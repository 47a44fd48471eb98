package graft.operators

import graft.{Exprs, OpModule, Q, Tables}
import graft.obs.Obs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Large-scale training-data deduplication over the `documents` /
  * `embeddings` fixtures: exact (hash groupBy), MinHash+LSH banded
  * near-dup, SimHash, n-gram Jaccard with banded blocking, and
  * embedding-cosine near-dup inside IVF (label) cells.
  *
  * Scale posture (the whole point of this family): NO all-pairs join
  * appears in any plan. Candidate pairs come only from equi-joins on
  * banded LSH signatures / IVF cells, so the quadratic blowup is confined
  * to same-bucket collisions — the standard banded-LSH contract. (A
  * single-hash block was measured to put 275 of 5 000 docs in one bucket
  * → 315 k pairs; ≥2-row bands keep buckets at near-dup-cluster size.)
  *
  * MinHash signatures use Kirsch-Mitzenmacher double hashing: ONE md5 per
  * shingle yields h1 (hex chars 1-15) and h2 (chars 16-29, mod 2^55), and
  * the i-th hash is `h1 + i*h2` (max < 2^61, no int64 overflow). The
  * per-doc signature is a single groupBy with one `min` per hash — no
  * seed explosion, map-side combine keeps the shuffle at 1 row/doc.
  *
  * Every hash is the portable md5 family ([[graft.Exprs.phash]]), so each
  * DuckDB oracle REPLAYS the identical signatures — LSH recall < 1 can
  * never cause a mismatch because both engines miss the same pairs.
  */
object DedupOps extends OpModule {
  import Exprs.{phash, phashSql}

  /** Occupancy-scaled hyperplane cells for `dedup_embedding_cosine`:
    * signatures are [[AnnOps.hyperplaneSig]] at the full [[CellMaxBits]]
    * width (static expression shape), masked down to the smallest b with
    * 2^b · [[CellOcc]] ≥ N so expected cell occupancy stays ≈ CellOcc at
    * any corpus size. 16 bits covers N ≤ 2 M at occupancy 32; a larger
    * deployment raises the cap (one more literal per bit — still
    * map-only). The mask is an integer-exact CASE chain over the corpus
    * count — no float log2 for the two engines to disagree on. */
  private[operators] val CellMaxBits = 16
  private[operators] val CellOcc = 32L

  /** DuckDB twin of the mask chain; expects `n` in scope. */
  private[operators] def cellMaskSql: String =
    "CASE " +
      (0 until CellMaxBits)
        .map(b => s"WHEN n <= ${CellOcc * (1L << b)} THEN ${(1L << b) - 1}")
        .mkString(" ") +
      s" ELSE ${(1L << CellMaxBits) - 1} END"

  /** Value form of the occupancy mask — the streaming worker's twin of
    * the Column CASE chain in [[embeddingCells]] (there the corpus count
    * arrives as a broadcast row; in a `foreachBatch` body it is already a
    * driver-side Long). Smallest b with 2^b · [[CellOcc]] ≥ n, mask =
    * 2^b − 1; MUST stay rule-identical to [[cellMaskSql]] and the fold in
    * [[embeddingCells]] ([[graft.streaming.EmbedIngest]]'s oracle gate
    * replays it cross-engine). */
  private[graft] def cellMaskFor(n: Long): Long = {
    var b = 0
    while (b < CellMaxBits && CellOcc * (1L << b) < n) b += 1
    (1L << b) - 1
  }

  /** All input columns plus DOUBLE vector `v` and its L2 `norm` —
    * [[AnnOps.withNorm]] without the column pruning, for callers whose
    * extra columns must ride through (the streaming embed worker). */
  private[graft] def withVNorm(df: DataFrame): DataFrame =
    df.withColumn("v", transform(col("embedding"), _.cast(DoubleType)))
      .withColumn("norm", sqrt(AnnOps.dot(col("v"), col("v"))))

  /** [[withVNorm]] plus the full-width [[CellMaxBits]] hyperplane
    * signature. Map-only; callers mask `sig` down to their corpus's
    * occupancy width. */
  private[graft] def embeddingSigged(df: DataFrame): DataFrame =
    withVNorm(df)
      .withColumn("sig", AnnOps.hyperplaneSig(col("v"), CellMaxBits))

  /** The family's 1e-6-quantized cosine (LONG-rounded identically in
    * both engines — see the `dedup_embedding_cosine` registration). */
  private[graft] def quantCos(
      va: Column, na: Column, vb: Column, nb: Column): Column =
    round(AnnOps.dot(va, vb) / (na * nb) * 1e6)
      .cast(LongType).cast(DoubleType) / 1e6

  /** (vec_id, v, norm, cell): every vector with its occupancy-scaled
    * hyperplane cell — the shared front-end of the embedding near-dup
    * family (`dedup_embedding_cosine`, `_mp`, `_recall`). Map-only per
    * row; N enters as a 1-row broadcast count. */
  private def embeddingCells(s: SparkSession, d: String): DataFrame = {
    val sigged = AnnOps.withNorm(Tables.embeddings(s, d))
      .withColumn("sig", AnnOps.hyperplaneSig(col("v"), CellMaxBits))
    val nDf = Tables.embeddings(s, d).agg(count(lit(1)).as("n"))
    val mask = (0 until CellMaxBits).foldRight(
        lit((1L << CellMaxBits) - 1): Column) { case (b, rest) =>
      when(lit(CellOcc * (1L << b)) >= col("n"), lit((1L << b) - 1L))
        .otherwise(rest)
    }
    sigged.crossJoin(broadcast(nDf))
      .select(col("vec_id"), col("v"), col("norm"),
        col("sig").bitwiseAND(mask).cast(LongType).as("cell"))
  }

  /** DuckDB twin of [[embeddingCells]]: CTE chain ending in
    * `c (vec_id, v, norm, cell)`. */
  private def embeddingCellsSqlCtes: String =
    s"""e AS (${AnnOps.withNormSql}),
       |${AnnOps.hyperplaneSigSqlCtes(CellMaxBits)},
       |m AS (SELECT $cellMaskSql AS mask
       |      FROM (SELECT count(*) AS n FROM embeddings)),
       |c AS (SELECT vec_id, v, norm,
       |        CAST(sig & mask AS BIGINT) AS cell FROM sigs, m)""".stripMargin

  /** Hamming-1 multiprobe over the masked cell: the own bucket plus every
    * single-bit flip. Flips ABOVE the active mask width produce probe
    * values no stored cell carries (cells live under the mask), so they
    * match nothing — probing all [[CellMaxBits]] flips unconditionally is
    * correct with no width plumbing, at (17/occupancy)-bounded waste. */
  private[graft] def cellProbes(cell: Column): Column =
    array(cell +: (0 until CellMaxBits).map(j =>
      cell.bitwiseXOR(lit(1L << j))): _*)

  private[graft] val cellProbesSql: String =
    s"[cell] || [xor(cell, CAST(1 AS BIGINT) << j) FOR j IN range(0, $CellMaxBits)]"

  /** Bounds `dedup_embedding_recall`'s brute-force truth slice at every
    * SF (the streaming-gate `IdCap` convention): exact cos ≥ 0.4 ground
    * truth is unavoidably quadratic, so it is computed over ≤1000
    * vectors — the whole fixture at the driver's gate SFs, a fixed slice
    * above — while the candidate paths under evaluation run their normal
    * plans restricted to the same slice (apples to apples). */
  private val RecallCap = 1000L

  /** doc_id + whitespace tokens (lower-cased). Twin: string_split_regex. */
  private[operators] def toks(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("toks"))

  private[operators] val toksSql =
    "SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents"

  /** PassJoin segment-pigeonhole candidate generation for an edit-distance
    * similarity self-join (Li, Deng, Feng, Wang — "PASS-JOIN: A
    * Partition-based Method for Similarity Joins", PVLDB 5(3), 2011):
    * every string is cut into `tau`+1 contiguous segments by a canonical
    * split that is a pure function of its LENGTH (base = l div (tau+1),
    * the l mod (tau+1) longer segments placed last). If lev(a,b) ≤ tau,
    * the optimal alignment leaves at least one of a's segments edit-free
    * (pigeonhole over tau edits), i.e. equal to a substring of b — and
    * that substring's shift δ from the segment's home position obeys
    * |δ| + |Δl − δ| ≤ tau (the prefix and tail alignments each cost at
    * least their length gap). So the index side emits (l, j, segment) and
    * the probe side emits (l_idx, j, substring) only for lengths within
    * tau and shifts inside that window; candidates are the EQUI-join of
    * the two — the blocking key is derived from content, never from a
    * coarse attribute, and losslessness is a theorem, not a hope.
    *
    * Returns distinct (key_a < key_b) id pairs; callers verify with the
    * threshold levenshtein. Work is bounded by segment-bucket collisions
    * (the LSH-bucket story with an exactness guarantee). Handles any
    * string length ≥ 0: zero-length segments join vacuously and only
    * against same-length-window partners. */
  def passJoinCandidates(
      rows: DataFrame, idCol: String, strCol: String,
      tau: Int = 2): DataFrame = {
    val k = tau + 1
    val sel = rows.select(col(idCol).as("id"), col(strCol).as("str"))
      .withColumn("l", length(col("str")))
    // canonical segment geometry of the j-th segment of a length-l split
    def segGeom(lc: Column, df: DataFrame): DataFrame = {
      val base = floor(lc / k).cast(IntegerType)
      val rem = pmod(lc, lit(k))
      df.withColumn("slen",
          base + when(col("j") >= lit(k) - rem, 1).otherwise(0))
        .withColumn("sstart",
          col("j") * base + greatest(lit(0), col("j") - (lit(k) - rem)))
    }
    val idx = segGeom(col("l"),
        sel.withColumn("j", explode(sequence(lit(0), lit(tau)))))
      .withColumn("seg", expr("substring(str, sstart + 1, slen)"))
      .select(col("id").as("id_i"), col("l").as("l_i"), col("j"), col("seg"))
    val probe = segGeom(col("l_i"),
        sel.withColumn("l_i",
            explode(sequence(greatest(col("l") - tau, lit(0)), col("l") + tau)))
          .withColumn("j", explode(sequence(lit(0), lit(tau)))))
      .withColumn("d", explode(sequence(lit(-tau), lit(tau))))
      .withColumn("dl", col("l") - col("l_i"))
      .filter(abs(col("d")) + abs(col("dl") - col("d")) <= tau &&
        col("sstart") + col("d") >= 0 &&
        col("sstart") + col("d") <= col("l") - col("slen"))
      .withColumn("seg", expr("substring(str, sstart + d + 1, slen)"))
      .select(col("id").as("id_p"), col("l_i"), col("j"), col("seg"))
    idx.join(probe, Seq("l_i", "j", "seg"))
      .filter(col("id_i") =!= col("id_p"))
      .select(least(col("id_i"), col("id_p")).as("key_a"),
        greatest(col("id_i"), col("id_p")).as("key_b"))
      .distinct()
  }

  /** Bounds `er_fuzzy_passjoin`'s cost at every SF (the streaming-gate
    * convention): covers the ENTIRE part fixture at the driver's gate
    * SFs (200 rows at sf0.001, 2 000 at sf0.01) and a fixed 5 000-row
    * slice at bench SFs — the semantics gate is complete, the bench cost
    * bounded. */
  private val ErPassJoinCap = 5000L

  /** Three fixed rounds of min-label propagation over the minhash
    * near-dup edges — the cluster labeling `dedup_survivors` and
    * `ta_split_leakage_safe` share (fixed rounds so the DuckDB twins
    * replay the exact state; the unbounded production form is
    * [[survivorsToFixpoint]]).
    *
    * Labels iterate over ALL docs. The alternative — propagate only the
    * edge-touched subgraph and anti-join singletons back — was measured
    * SLOWER here (interleaved A/B at sf0.01: 1.5 s vs 3.4 s
    * steady-state): with 3 fixed rounds the extra
    * distinct/anti-join/union exchanges cost more than the smaller
    * per-round relations save, at any scale where 3 rounds is the right
    * depth. The subgraph restriction lives where it pays:
    * [[survivorsToFixpoint]], whose round count is unbounded.
    *
    * localCheckpoint: each round references the previous one TWICE
    * (union branch + join branch), so an un-truncated lineage replays
    * round r−1 2× / r−2 4× / r−3 8× — measured ~40% of the survivors
    * query's wall time in redundant tiny-stage scheduling. The label
    * relation is skinny (doc, label) rows, so the eager materialization
    * is cheap at any scale. */
  private def propagatedLabels3(s: SparkSession, d: String): DataFrame = {
    val edges = minhashEdges(s, d)
    var labels = Tables.documents(s, d).select(col("doc_id"))
      .withColumn("label", col("doc_id"))
    Obs.phase(s, "labels3") {
      for (_ <- 1 to 3) {
        val fromNeighbors = edges
          .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
          .select(col("src").as("doc_id"), col("label"))
        labels = labels.unionByName(fromNeighbors)
          .groupBy(col("doc_id"))
          .agg(min(col("label")).as("label"))
          .localCheckpoint()
      }
    }
    labels
  }

  /** DuckDB WITH-chain ending in `l3 (doc_id, label)` — the twin of
    * [[propagatedLabels3]], shared by the same two oracles. */
  private def labels3Sql: String = {
    val mh = s"""WITH sh AS MATERIALIZED (${shingledSql(3)}),
                |${bandSigsSql(32, 4)},
                |$candidatesSql,
                |pairs AS MATERIALIZED (
                |  SELECT doc_a, doc_b FROM (
                |    SELECT doc_a, doc_b,
                |      len(list_intersect(a.shingles, b.shingles))::DOUBLE
                |        / len(list_distinct(a.shingles || b.shingles)) AS jaccard
                |    FROM cand JOIN sh a ON a.doc_id = cand.doc_a
                |              JOIN sh b ON b.doc_id = cand.doc_b)
                |  WHERE jaccard >= 0.8),
                |edges AS MATERIALIZED (
                |  SELECT doc_a AS src, doc_b AS dst FROM pairs
                |  UNION ALL SELECT doc_b, doc_a FROM pairs),
                |l0 AS (SELECT doc_id, doc_id AS label FROM documents)""".stripMargin
    val rounds = (1 to 3).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT doc_id, min(label) AS label FROM (
         |    SELECT doc_id, label FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.src AS doc_id, l.label
         |    FROM edges e JOIN l${i - 1} l ON l.doc_id = e.dst)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"$mh,\n$rounds"
  }

  /** Distinct word n-gram shingle set per doc (empty when too short).
    * The native codegen'd [[graft.functions.WordShingles]] — bit-identical
    * to the composed HOF tower it replaced (`WordShinglesSpec`), which is
    * still what [[shingledSql]] replays in DuckDB; HOFs don't codegen, so
    * the one native call keeps the dedup family's hottest scan stage
    * inside WholeStageCodegen. */
  private def shingled(s: SparkSession, d: String, n: Int): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      call_function("word_shingles", col("text"), lit(n)).as("shingles"))

  private[operators] def shingledSql(n: Int): String = shingledSqlFrom(n, "documents")

  /** [[shingledSql]] over an arbitrary (doc_id, text) relation — the
    * sampled-recall harness shingles a deterministic subset. */
  private[operators] def shingledSqlFrom(n: Int, docsRel: String): String = {
    val parts = (0 until n).map(i => s"toks[i+$i]").mkString(" || ' ' || ")
    s"""SELECT doc_id, list_distinct(CASE WHEN len(toks) >= $n
       |  THEN [$parts FOR i IN range(1, len(toks)-${n - 2})]
       |  ELSE [] END) AS shingles FROM (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM $docsRel)""".stripMargin
  }

  private val H2Mod = 1L << 55

  /** Second, independent 55-bit hash from the same md5 (hex chars 16-29).
    * The Spark side computes it fused with h1 via `phash_pair`
    * ([[graft.functions.PHashPair]]); this SQL twin keeps the oracle on
    * the replayable hex form. */
  private def phash2Sql(x: String): String =
    s"(CAST('0x' || substr(md5($x), 16, 14) AS BIGINT) % $H2Mod)"

  /** (doc_id, band, sig) LSH band signatures: `numHashes` double-hashed
    * min-hashes per doc, grouped into bands of `bandRows`. ONE md5 digest
    * per (doc, shingle) — both family halves come from the fused
    * [[graft.functions.PHashPair]] expression (the composed
    * conv/substring/md5 chain ran the digest twice and round-tripped
    * through hex; bit-equivalence is pinned in `PHashPairSpec` and the
    * oracle still replays the hex form). One shuffled row per doc. */
  private[graft] def bandSigs(sets: DataFrame, numHashes: Int, bandRows: Int): DataFrame =
    bandSigsFromRows(
      sets.select(col("doc_id"), explode(col("shingles")).as("sh")),
      numHashes, bandRows)

  /** Row-form twin of [[bandSigs]]: `ex` is (doc_id, sh) shingle rows. */
  private def bandSigsFromRows(ex: DataFrame, numHashes: Int, bandRows: Int): DataFrame = {
    val hashes = ex
      .select(col("doc_id"), call_function("phash_pair", col("sh")).as("p"))
      .select(col("doc_id"),
        col("p").getItem(0).as("h1"), col("p").getItem(1).as("h2"))
    val minhs = hashes
      .groupBy(col("doc_id"))
      .agg(
        min(col("h1")).as("mh0"),
        (1 until numHashes).map(i =>
          min(col("h1") + lit(i.toLong) * col("h2")).as(s"mh$i")): _*)
    val bands = (0 until numHashes / bandRows).map { b =>
      val sig = concat_ws(",",
        (0 until bandRows).map(r => col(s"mh${b * bandRows + r}").cast(StringType)): _*)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    minhs
      .select(col("doc_id"), explode(array(bands: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** DuckDB twin of [[bandSigs]] (expects a CTE `sh(doc_id, shingles)`).
    * ONE md5 per (doc, shingle): the digest list materializes first and
    * the per-seed minhash combines pre-parsed integer lists — the naive
    * comprehension re-digested every shingle per seed (2·numHashes md5
    * calls each), which at probe scale (sf1, 32 hashes) was 7.1 s of
    * pure rehashing vs 1.8 s for this form. Values are bit-identical
    * (same integer arithmetic, same hex slices — re-checked at sf0.01
    * before landing). */
  private[operators] def bandSigsSql(numHashes: Int, bandRows: Int): String =
    s"""mh AS MATERIALIZED (
       |  SELECT doc_id,
       |    [ list_min([h1s[i] + seed * h2s[i] FOR i IN range(1, len(h1s)+1)])
       |      FOR seed IN range(0, $numHashes) ] AS sig
       |  FROM (
       |    SELECT doc_id,
       |      [CAST('0x' || substr(h, 1, 15) AS BIGINT) FOR h IN hs] AS h1s,
       |      [CAST('0x' || substr(h, 16, 14) AS BIGINT) % $H2Mod FOR h IN hs] AS h2s
       |    FROM (SELECT doc_id, [md5(s) FOR s IN shingles] AS hs
       |          FROM sh WHERE len(shingles) > 0))),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, b AS band,
       |    array_to_string(sig[b*$bandRows+1 : b*$bandRows+$bandRows], ',') AS sigstr
       |  FROM mh, range(0, ${numHashes / bandRows}) t(b))""".stripMargin

  /** Same-bucket candidate pairs from band signatures. `shuffle_hash`
    * hint: letting Catalyst broadcast one side would re-execute the whole
    * md5/minhash subtree inside a broadcast build (measured 17 s on one
    * thread); the shuffle join keeps both executions parallel, and at
    * real scale the signature relation is too big to broadcast anyway. */
  private def candidates(bands: DataFrame): DataFrame =
    bands.as("x").hint("shuffle_hash")
      .join(bands.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  private val candidatesSql =
    """cand AS MATERIALIZED (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.sigstr = y.sigstr AND x.doc_id < y.doc_id)""".stripMargin

  /** LOSSLESS J ≥ 0.8 truth-set CTEs over `s(doc_id, shingles, sz)`
    * (distinct-shingle lists): co-count equi-join on exploded shingles
    * instead of the quadratic length-banded cross join. Provably the
    * same set — any pair at J ≥ 0.8 > 0 shares a shingle, so the
    * equi-join's candidate superset misses nothing, and over DISTINCT
    * lists the co-count i equals `len(list_intersect)` with
    * |A∪B| = sza+szb−i, so `i/(sza+szb−i)` is the identical IEEE
    * division of the identical integers. The threshold is the
    * integer-exact form: J ≥ 0.8 ⟺ 9·i ≥ 4·(sza+szb). Join volume is
    * Σ_shingle df² — data-bounded, not n² (sf1: 3.6 M rows, max df 6).
    * Measured vs the quadratic form it replaces: identical rows at
    * sf0.001/0.01/0.1; 242 s → 3.2 s at sf0.1, and 4.4 s at sf1 where
    * the quadratic oracle exceeded the 180 s probe clamp. */
  private def truthPairsSqlCtes: String =
    """ex AS (SELECT doc_id, unnest(shingles) AS shw FROM s),
      |co AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
      |  FROM ex a JOIN ex b ON a.shw = b.shw AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS MATERIALIZED (
      |  SELECT doc_a, doc_b, i::DOUBLE / (sa.sz + sb.sz - i) AS jaccard
      |  FROM co JOIN s sa ON sa.doc_id = co.doc_a
      |          JOIN s sb ON sb.doc_id = co.doc_b
      |  WHERE i * 9 >= (sa.sz + sb.sz) * 4)""".stripMargin

  /** Exact Jaccard on candidate pairs, computed by co-counting exploded
    * shingles instead of shipping whole shingle arrays into an
    * `array_intersect`: |A∩B| is a count over (pair, shingle) matches and
    * |A∪B| = |A|+|B|−|A∩B|. Skinny shuffle rows, no unbounded arrays in
    * flight — measured ~6× faster than the array form on 16k candidate
    * pairs × 250-element sets, and the shape that survives 100 TB.
    * Candidates sharing zero shingles drop out of the inner join, which a
    * positive threshold filters anyway. */
  private[graft] def jaccardPairs(pairs: DataFrame, sets: DataFrame, thresh: Double): DataFrame =
    jaccardPairsFromRows(pairs,
      sets.select(col("doc_id"), explode(col("shingles")).as("sh")),
      sets.select(col("doc_id"), size(col("shingles")).as("sz")),
      thresh)

  /** LOSSLESS prefix-filter similarity pairs at Jaccard ≥ 0.8 over
    * (doc_id, sh) distinct shingle rows (`ex` should be persisted by
    * the caller — it feeds sizes, dfs, prefixes, and the verify).
    * df as a count-over-window on sh (one exchange) instead of a
    * groupBy + re-join (which exchanged the shingle relation twice):
    * 47 → 36 MB exchanged and ~4 s warm at sf0.1 (the join form ran
    * ~10 s); the doc-keyed rank window then re-partitions once, and
    * the node-sized `sizes` join broadcasts. Shared by
    * `dedup_prefix_filter` and (as the truth set) [[lshRecall]].
    *
    * Cache-lifetime contract: callers persist `ex` for the duration of
    * the returned plan (it feeds sizes, dfs, prefixes AND the verify —
    * unpersisting before the action would recompute the shingle pipeline
    * per branch). The entry points that own the session (Bench clears
    * the cache between queries, Verify per run) release it; a library
    * user embedding these builders in a long-lived session unpersists
    * after materializing the result. */
  private def prefixPairs08(ex: DataFrame): DataFrame = {
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val wsh = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("df"), col("sh"))
    val prefix = ex
      .withColumn("df", count(lit(1)).over(wsh))
      .withColumn("rk", row_number().over(wdoc))
      .join(sizes, "doc_id")
      .where(col("rk") <= col("sz") - expr("(8 * sz + 9) div 10") + 1)
      .select(col("doc_id"), col("sh"), col("sz"))
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.sh") === col("y.sh") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.sz"), col("y.sz")) * 10 >=
            greatest(col("x.sz"), col("y.sz")) * 8)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    jaccardPairsFromRows(cand, ex, sizes, 0.8)
  }

  /** (n_truth, n_found, recall) of the (16 bands × 4 rows) LSH
    * candidates over `docs` against the lossless J ≥ 0.8 truth set,
    * both computed in the call from ONE persisted shingle-row relation:
    * the truth set is [[prefixPairs08]] over it and the band signatures
    * are hashed from the same rows. Candidates and truth pairs are each
    * distinct, so one left join counts both sides in one aggregate.
    * recall is NULL (not NaN) on a corpus with zero J ≥ 0.8 pairs — 0/0
    * would otherwise poison downstream comparisons silently. */
  private def lshRecall(docs: DataFrame): DataFrame = {
    val ex = docs
      .select(col("doc_id"), expr("shingle_explode(text, 4)").as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ex.count()
    // Persist the BAND SIGNATURES too: `candidates` self-joins them, and
    // they are the narrowest relation (16 skinny rows/doc) that stops
    // the minhash aggregate running twice.
    val bands = bandSigsFromRows(ex, 16, 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bands.count()
    prefixPairs08(ex)
      .join(candidates(bands).withColumn("hit", lit(true)),
        Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"))
      .select(col("n_truth"), col("n_found"),
        when(col("n_truth") > 0,
          col("n_found").cast(DoubleType) /
            col("n_truth").cast(DoubleType)).as("recall"))
  }

  /** Row-form twin of [[jaccardPairs]] for array-free pipelines: `ex` is
    * (doc_id, sh) distinct shingle rows, `sizes` is (doc_id, sz). */
  private def jaccardPairsFromRows(
      pairs: DataFrame, ex: DataFrame, sizes: DataFrame, thresh: Double): DataFrame =
    pairs
      .join(ex.toDF("doc_a", "sh").hint("shuffle_hash"), "doc_a")
      .join(ex.toDF("doc_b", "sh").hint("shuffle_hash"), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("doc_a", "sz_a"), "doc_a")
      .join(sizes.toDF("doc_b", "sz_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("inter")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= thresh)

  private def jaccardPairsSql(thresh: Double): String =
    s"""scored AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(a.shingles, b.shingles))::DOUBLE
       |      / len(list_distinct(a.shingles || b.shingles)) AS jaccard
       |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
       |            JOIN sh b ON b.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b, jaccard FROM scored
       |WHERE jaccard >= $thresh ORDER BY doc_a, doc_b""".stripMargin

  /** (src, dst) edges in BOTH directions of each (a, b) pair, emitted
    * in ONE narrow pass (r17): an explode of a two-struct array. The
    * old union-of-two-selects referenced the pair pipeline twice, which
    * r16 patched with an intermediate pair cache (one redundant full
    * pass of the band self-join + shingle co-count otherwise — ~30 MB
    * of the survivors query's 75 MB shuffle, ~1.7 s at sf0.1); here a
    * caller persists the symmetric list itself, and each of the
    * fixpoint's references is one cache scan. */
  private[graft] def symmetricEdges(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs
      .select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Symmetric near-dup edges at minhash settings (used by survivors).
    * Persisted AND eagerly materialized: the caller references the edge
    * list once per label-propagation round, and a lazy cache would make
    * those branches race on per-block compute locks. The shingle-set
    * cache is released once the edges are built. */
  private def minhashEdges(s: SparkSession, d: String): DataFrame = {
    val sets = shingled(s, d, 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Obs.phase(s, "shingles")(sets.count())
    // the candidate + verify pipeline streams straight into the one
    // persisted symmetric edge list ([[symmetricEdges]])
    val edges = symmetricEdges(
        jaccardPairs(candidates(bandSigs(sets, 32, 4)), sets, 0.8), "doc_a", "doc_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Obs.phase(s, "edges")(edges.count())
    sets.unpersist(blocking = false)
    edges
  }

  /** Production variant of the survivor query: min-label propagation to
    * FIXPOINT, not a fixed round count. The registered `dedup_survivors`
    * keeps 3 fixed rounds so its DuckDB twin can replay the exact state;
    * this is what a real run uses — clusters whose diameter exceeds the
    * fixed count under-converge there, and a production corpus gives no
    * diameter bound.
    *
    * Per-round costs stay the scalable CC shape (join + groupBy on
    * skinny (doc,label) rows). Two loop-specific cares: lineage is
    * truncated every round with an eager `localCheckpoint` (an iterative
    * plan otherwise re-derives all prior rounds each action and the
    * optimizer walk grows superlinearly), and the convergence probe is a
    * `limit(1)` existence check on changed labels, not a full count.
    *
    * SMALL-GRAPH FAST PATH: when the edge list is micro-batch-sized
    * (≤ `smallGraphMax`, probed with a short-circuiting limit+count),
    * the whole list funnels through ONE task and a min-root union-find
    * labels it in a single job — the iterative form pays two
    * fixed-overhead jobs per round, which dominates at a few thousand
    * edges (measured 1.7–2.3 s/batch in the streaming gates vs ~0.3 s
    * here). Labels are IDENTICAL either way (the component minimum is
    * propagation-order-free; union-by-min makes the root the component
    * min), so the branch is invisible to every oracle. The default
    * threshold keeps the single task at ~tens of MB of heap
    * (500k edges × two longs + map overhead); above it, the O(log
    * diameter) path-halving rounds run — the shape that survives any
    * batch size.
    *
    * @param docs  (doc_id) universe
    * @param edges symmetric (src,dst) near-dup edge list
    * @param maxRounds safety bound; CC converges in O(diameter) rounds
    * @param smallGraphMax edge-count ceiling for the single-task path;
    *        0 disables it (specs pin the iterative rounds that way)
    * @param knownEdgeCount edge count the CALLER already has (e.g. the
    *        streaming workers materialize their pair cache with a count
    *        anyway) — skips the probe job the size gate would otherwise
    *        schedule; the branch taken is identical
    * @return (doc_id, cluster_id, is_survivor, rounds) — `rounds` is the
    *         number of propagation rounds actually run (constant
    *         column; 0 marks the single-task path)
    */
  def survivorsToFixpoint(
      docs: DataFrame, edges: DataFrame, maxRounds: Int = 50,
      smallGraphMax: Long = 500000L,
      knownEdgeCount: Option[Long] = None): DataFrame =
    Obs.phase(edges.sparkSession, "fixpoint")(
      labelsToFixpoint(docs, edges, maxRounds, smallGraphMax, knownEdgeCount))

  private def labelsToFixpoint(
      docs: DataFrame, edges: DataFrame, maxRounds: Int,
      smallGraphMax: Long, knownEdgeCount: Option[Long]): DataFrame = {
    if (smallGraphMax > 0 && knownEdgeCount.fold(
        edges.limit((smallGraphMax + 1).toInt).count() <= smallGraphMax)(
        _ <= smallGraphMax)) {
      import org.apache.spark.sql.Encoders
      val labeled = edges
        .select(col("src").cast(LongType), col("dst").cast(LongType))
        .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .coalesce(1)
        .mapPartitions { it =>
          val parent = new java.util.HashMap[Long, Long]()
          def find(x: Long): Long = {
            var r = x
            while (parent.get(r) != r) r = parent.get(r)
            var c = x // path compression
            while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
            r
          }
          it.foreach { case (a, b) =>
            if (!parent.containsKey(a)) parent.put(a, a)
            if (!parent.containsKey(b)) parent.put(b, b)
            val (ra, rb) = (find(a), find(b))
            // union by MIN root: the surviving root is the component min
            if (ra < rb) parent.put(rb, ra)
            else if (rb < ra) parent.put(ra, rb)
          }
          import scala.jdk.CollectionConverters._
          parent.keySet().iterator().asScala.map(k => (k.toLong, find(k)))
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .toDF("doc_id", "label")
        // EAGER, like the iterative path's per-round checkpoints: the
        // function's contract is that the edge relation is fully
        // consumed by the time it returns (callers release their pair
        // persist right after), and a lazy single-task plan would
        // re-run the whole candidate pipeline — uncached, at
        // parallelism 1 — on every downstream action
        .localCheckpoint(eager = true)
      val singles = docs.select(col("doc_id"))
        .join(labeled.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("label", col("doc_id"))
      return labeled.unionByName(singles)
        .select(col("doc_id"), col("label").as("cluster_id"),
          (col("doc_id") === col("label")).as("is_survivor"),
          lit(0).as("rounds"))
    }
    // Iterate only over the edge-touched subgraph (docs without an edge
    // never change labels); singletons rejoin after convergence via an
    // anti-join. Same restriction as the registered query — at fixpoint
    // depth it matters even more, since every round saved is a round not
    // run on the full corpus.
    // 1-HOP-MIN init: each node starts at min(self, direct neighbors) —
    // one propagation round folded into the init aggregation for the
    // same single shuffle the old `distinct` paid. Clique-shaped
    // clusters (near-identical docs all pairwise-verified — the common
    // near-dup case) converge in ONE round (the observe round) instead
    // of two; chains save exactly one round. Labels are unchanged.
    var labels = edges.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("doc_id"), col("label"))
      .localCheckpoint(eager = true)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      // The round's aggregation carries the PREVIOUS label along (every
      // doc appears exactly once in `labels`, so max(prev) recovers it;
      // neighbor rows contribute null), making the convergence test a
      // filter over the just-checkpointed relation — one job per round
      // instead of checkpoint + a join-shaped compare (measured ~2 jobs
      // of tiny-stage scheduling saved per round at fixpoint depth).
      val fromNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .select(col("src").as("doc_id"), col("label"),
          lit(null).cast(LongType).as("prev"))
      // PATH HALVING (Shiloach-Vishkin style pointer jumping): each
      // node also adopts its current label's label. Label values are
      // node ids inside the same component (the min-label invariant),
      // so L(L(x)) is still a member id and the fixpoint — the
      // component minimum — is unchanged; chains collapse in
      // O(log diameter) rounds instead of O(diameter), and every round
      // saved is two fixed-overhead jobs not scheduled. Every label
      // value appears as a doc_id in `labels` (labels come from edge
      // endpoints, and edges are symmetric), so the self-join loses
      // no rows.
      val fromLabelsLabel = labels.toDF("doc_id", "lbl")
        .join(labels.toDF("lbl", "lbl2"), "lbl")
        .select(col("doc_id"), col("lbl2").as("label"),
          lit(null).cast(LongType).as("prev"))
      val next = labels
        .select(col("doc_id"), col("label"), col("label").as("prev"))
        .unionByName(fromNeighbors)
        .unionByName(fromLabelsLabel)
        .groupBy(col("doc_id"))
        .agg(min(col("label")).as("label"), max(col("prev")).as("prev"))
        .localCheckpoint(eager = true)
      converged = next
        .filter(col("label") =!= col("prev"))
        .limit(1).count() == 0
      labels = next.select(col("doc_id"), col("label"))
    }
    val singletons = docs.select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("label", col("doc_id"))
    labels.unionByName(singletons)
      .select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("is_survivor"),
        lit(round).as("rounds"))
  }

  /** (doc_id, cluster_id, is_survivor, rounds): exact-fixpoint labels
    * over the UNION of the lexical (MinHash-LSH J ≥ 0.8) and semantic
    * (occupancy-scaled cell cosine ≥ 0.4) edge sets — the shared
    * front-end of `dedup_multi_signal` and `ta_split_multi_signal`.
    * The fixture's embeddings share the documents' id space
    * (vec_id = doc_id — TESTDATA's contract).
    *
    * CC runs on the COLLAPSED graph, not the raw edge union: every
    * lexical cluster contracts to its representative (the 3-round
    * [[propagatedLabels3]] assignment, computed in the call),
    * semantic pairs map endpoints to representatives, and the exact
    * fixpoint closes over reps only. The collapsed graph is |clusters|
    * nodes and |semantic pairs| edges — orders of magnitude below the
    * raw union (the first-cut fixpoint over raw lexical edges measured
    * 13 s at sf0.1) — and mixed-edge chains still collapse: a chain
    * doc→lexdup→paraphrase walks rep-to-rep.
    * Final label = rep-closure label of the doc's lexical label; the
    * union component's min doc_id is itself some lexical label, so
    * labels equal the raw-union CC's (lexical part at the family's
    * registered 3-round horizon). */
  private[graft] def multiSignalLabels(s: SparkSession, d: String): DataFrame = {
    val lex = propagatedLabels3(s, d)
    val cells = embeddingCells(s, d)
    val aS = cells.select(col("vec_id").as("va_id"), col("cell"),
      col("v").as("va"), col("norm").as("na"))
    val bS = cells.select(col("vec_id").as("vb_id"),
      col("cell").as("cb"), col("v").as("vb"), col("norm").as("nb"))
    val sem = aS
      .join(bS, col("cell") === col("cb") && col("va_id") < col("vb_id"))
      .filter(quantCos(col("va"), col("na"), col("vb"), col("nb")) >= 0.4)
      .select(col("va_id").as("src"), col("vb_id").as("dst"))
    // contract endpoints to lexical representatives; same-rep pairs die
    val semRep = sem
      .join(lex.select(col("doc_id").as("src"), col("label").as("rs")), "src")
      .join(lex.select(col("doc_id").as("dst"), col("label").as("rd")), "dst")
      .filter(col("rs") =!= col("rd"))
      .select(col("rs").as("src"), col("rd").as("dst"))
    // the fixpoint references its edges more than once (size probe +
    // propagation): persist the symmetric list itself
    val repEdges = symmetricEdges(semRep, "src", "dst").persist()
    val repLabels =
      try
        survivorsToFixpoint(
          lex.select(col("label").as("doc_id")).distinct(), repEdges)
      finally repEdges.unpersist()
    lex.join(
        repLabels.select(col("doc_id").as("label"), col("cluster_id"),
          col("rounds")),
        "label")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_survivor"),
        col("rounds"))
  }

  /** Twin of [[multiSignalLabels]]: `WITH RECURSIVE` chain ending in
    * `mslabels (doc_id, cluster_id)` — the 3-round lexical labels
    * (`labels3Sql`, the registered family's horizon), semantic cell
    * pairs contracted to lexical representatives, symmetric union,
    * recursive transitive closure over reps (exact — no round bound to
    * diverge from the fixpoint), then doc → rep-cluster. */
  private def multiSignalSqlCtes: String =
    s"""WITH RECURSIVE ${labels3Sql.stripPrefix("WITH ")},
       |$embeddingCellsSqlCtes,
       |spairs AS MATERIALIZED (
       |  SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE CAST(round(${AnnOps.dotSql("a.v", "b.v")}
       |          / (a.norm * b.norm) * 1e6) AS BIGINT) / 1e6 >= 0.4),
       |srep AS MATERIALIZED (
       |  SELECT la.label AS s, lb.label AS d
       |  FROM spairs p JOIN l3 la ON la.doc_id = p.src
       |               JOIN l3 lb ON lb.doc_id = p.dst
       |  WHERE la.label <> lb.label),
       |sym AS MATERIALIZED (SELECT s, d FROM srep UNION ALL SELECT d, s FROM srep),
       |reach AS (
       |  SELECT s AS a, d AS b FROM sym
       |  UNION
       |  SELECT r.a, e2.d FROM reach r JOIN sym e2 ON e2.s = r.b),
       |replab AS (
       |  SELECT u.label AS rep,
       |    LEAST(u.label, coalesce(r.mb, u.label)) AS cluster
       |  FROM (SELECT DISTINCT label FROM l3) u
       |  LEFT JOIN (SELECT a, min(b) AS mb FROM reach GROUP BY 1) r
       |    ON r.a = u.label),
       |mslabels AS (
       |  SELECT l3.doc_id, replab.cluster AS cluster_id
       |  FROM l3 JOIN replab ON replab.rep = l3.label)""".stripMargin

  /** Shared oracle twin for the composed minhash query and its custom-
    * operator equivalent. */
  private val minhashOracleSql: String =
    s"""WITH sh AS MATERIALIZED (${shingledSql(3)}),
       |${bandSigsSql(32, 4)},
       |$candidatesSql,
       |${jaccardPairsSql(0.8)}""".stripMargin

  def queries: Map[String, Q] = Map(
    // ── Exact dedup: content-hash groupBy, keep lowest doc_id. One
    // shuffle keyed by the hash; survivor choice is deterministic. ──
    "dedup_exact" -> Q(
      (s, d) =>
        Tables
          .documents(s, d)
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
             |       COUNT(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "LLM-pipeline: exact dedup via content hash (brief §dedup)",
      sort = Seq("content_hash")
    ),

    // ── MinHash + banded LSH near-dup at Jaccard ≥ 0.8: 3-gram shingles,
    // 32 hashes, 8 bands × 4 (P[candidate | J=0.8] ≈ 0.985) → equi-join
    // on (band, signature) → exact-Jaccard verify on candidates only.
    // The shingle relation is persisted: four plan branches consume it
    // (band build + both verify sides + sizes), and without the cache
    // boundary Catalyst elides the spreading repartition under the
    // branch exchanges, fusing the interpreted shingle build into the
    // single-split scan task (measured 9.5 s single-threaded). A real
    // 100 TB run persists this relation (disk-backed) for the same
    // reason: it's the one expensive intermediate every stage shares. ──
    "dedup_minhash" -> Q(
      (s, d) => {
        val sets = shingled(s, d, 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // Eager materialization: AQE launches the four consuming stages
        // concurrently and their tasks otherwise serialize on the cache's
        // per-block compute locks (measured 2 s of idle wall per stage).
        sets.count()
        jaccardPairs(candidates(bandSigs(sets, 32, 4)), sets, 0.8)
      },
      Some(minhashOracleSql),
      doc = "LLM-pipeline: MinHash+LSH banded near-dup (shingle→minhash→band→bucket-join)",
      sort = Seq("doc_a", "doc_b")
    ),

    // ── The same near-dup join as ONE custom Catalyst operator (SURVEY
    // §2.10 level c): SimilarityJoinPlan → SimilarityJoinExec via the
    // injected strategy. Same hash family, same oracle twin — the
    // composed plan, the custom operator, and DuckDB all replay
    // identical signatures. ──
    "dedup_minhash_native" -> Q(
      (s, d) => graft.plans.SimilarityJoin(
        Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 32, bandRows = 4, threshold = 0.8),
      Some(minhashOracleSql),
      doc = "Custom operator: banded-LSH similarity join as LogicalPlan+Rule+Strategy+SparkPlan",
      sort = Seq("doc_a", "doc_b")
    ),

    // ── SimHash: 60-bit signature, bit k = sign of Σ±1 over distinct
    // token hashes. Exact-duplicate signatures collide; Hamming-near docs
    // land close. Shuffle is (doc, bit) keyed partial sums. ──
    "dedup_simhash" -> Q(
      (s, d) =>
        Tables.documents(s, d)
          // word_shingles(text, 1) = distinct tokens (order-free downstream)
          .select(col("doc_id"),
            explode(call_function("word_shingles", col("text"), lit(1))).as("tok"))
          .select(col("doc_id"), phash(col("tok")).as("th"))
          .select(col("doc_id"), col("th"),
            explode(sequence(lit(0), lit(59))).as("k"))
          .groupBy(col("doc_id"), col("k"))
          .agg(sum(expr("CASE WHEN (th >> k) & 1 = 1 THEN 1 ELSE -1 END")).as("s"))
          .groupBy(col("doc_id"))
          .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), k)"))
            .otherwise(lit(0L))).as("simhash")),
      // CAST(... AS BIGINT): DuckDB widens sum(BIGINT) to HUGEINT →
      // decimal128, which the driver's cross-engine hash can't canonicalize.
      Some(s"""SELECT doc_id,
              |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
              |       AS BIGINT) AS simhash
              |FROM (
              |  SELECT doc_id, k,
              |    sum(CASE WHEN (th >> k) & 1 = 1 THEN 1 ELSE -1 END) AS s
              |  FROM (
              |    SELECT doc_id, ${phashSql("tok")} AS th
              |    FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok
              |          FROM (${toksSql}))),
              |    range(0, 60) t(k)
              |  GROUP BY 1, 2)
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "LLM-pipeline: SimHash 60-bit document signatures",
      sort = Seq("doc_id")
    ),

    // ── n-gram Jaccard near-dup at ≥ 0.5: exact 4-gram set similarity is
    // the verdict, a lighter LSH (16 hashes, 4 bands × 4) only proposes.
    // Word 4-grams, not bigrams/char-grams: on this corpus's small
    // vocabulary those saturate (hundreds of docs share identical bigram
    // sets → quadratic candidate blowup, measured 1 M pairs); 4-grams
    // keep buckets at near-dup-cluster size (681 candidates → 251 hits
    // at sf0.1). ──
    "dedup_ngram_jaccard" -> Q(
      (s, d) => {
        val sets = shingled(s, d, 4)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sets.count()
        jaccardPairs(candidates(bandSigs(sets, 16, 4)), sets, 0.5)
      },
      Some(s"""WITH sh AS MATERIALIZED (${shingledSql(4)}),
              |${bandSigsSql(16, 4)},
              |$candidatesSql,
              |${jaccardPairsSql(0.5)}""".stripMargin),
      doc = "LLM-pipeline: exact word-4-gram Jaccard within banded-LSH blocks",
      sort = Seq("doc_a", "doc_b")
    ),

    // ── Prefix-filtered set-similarity join (AllPairs / PPJoin family,
    // Bayardo et al. WWW'07): the LOSSLESS alternative to LSH blocking.
    // Tokens order by ascending global document frequency (rarest
    // first); each doc indexes only its first |x| − ⌈τ·|x|⌉ + 1 tokens.
    // For any pair with Jaccard ≥ τ the required overlap is
    // ≥ ⌈τ·max(|A|,|B|)⌉, and under a consistent total order two sets
    // with that much overlap MUST share a token inside both prefixes —
    // so the candidate equi-join on prefix tokens misses nothing, which
    // the oracle PROVES by being an independent exhaustive truth set
    // ([[truthPairsSqlCtes]]: co-count over ALL shared shingles, no
    // df-order/prefix reasoning anywhere — complete because J > 0
    // requires a shared shingle). Scale: candidate volume is
    // Σ_token df_prefix(token)² over RARE tokens only — the df-ascending
    // order is what keeps buckets small, and the shingle width is the
    // other lever: 3-grams collide on shared boilerplate (measured 43k
    // candidates at sf0.1 even at τ=0.8) while 4-grams individuate it
    // (255 candidates, same corpus) — losslessness makes the candidate
    // set exactly as large as the data demands, so candidate volume IS
    // the tuning readout. All integer arithmetic:
    // ⌈0.8·sz⌉ = (8·sz+9) div 10 on both engines. ──
    "dedup_prefix_filter" -> Q(
      (s, d) => {
        // ARRAY-FREE pipeline: shingles are born as rows via the
        // `shingle_explode` Generator ([[graft.functions.ShingleExplode]])
        // — no plan edge anywhere carries a shingle array. Sizes and
        // document frequencies are both groupBy counts over the same
        // persisted skinny relation (docs shorter than n tokens emit no
        // rows and drop out, matching the composed form's len>0 filter).
        val ex = Tables.documents(s, d)
          .select(col("doc_id"), expr("shingle_explode(text, 4)").as("sh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ex.count()
        prefixPairs08(ex)
      },
      Some(s"""WITH sh AS MATERIALIZED (${shingledSql(4)}),
              |s AS MATERIALIZED (SELECT doc_id, shingles, len(shingles) AS sz
              |      FROM sh WHERE len(shingles) > 0),
              |$truthPairsSqlCtes
              |SELECT doc_a, doc_b, jaccard FROM truth
              |ORDER BY doc_a, doc_b""".stripMargin),
      doc = "LLM-pipeline: lossless prefix-filter similarity join (AllPairs) — oracle is the independent exhaustive truth set (co-count over exploded shingles, provably complete), proving zero misses",
      sort = Seq("doc_a", "doc_b")
    ),

    // ── LSH-contract evaluation: candidate RECALL of the banded-LSH
    // blocking, measured against the lossless prefix-filter truth set —
    // "measure, don't guess" applied to the dedup family's own
    // probabilistic core. Truth = every pair with Jaccard ≥ 0.8 (the
    // prefix filter provably misses none); prediction = the
    // (16 bands × 4 rows) candidate set the `dedup_ngram_jaccard`
    // family uses. Theoretical candidate probability at J = 0.8 is
    // 1−(1−0.8⁴)¹⁶ band-rows-wise; this query reports the ACTUAL
    // number on this corpus. Both engines replay identical signatures,
    // so the recall itself is engine-exact. ──
    "dedup_lsh_recall" -> Q(
      // Truth set and candidates both computed in the call; the oracle
      // recomputes both from scratch independently.
      (s, d) => lshRecall(Tables.documents(s, d)),
      Some(s"""WITH sh AS MATERIALIZED (${shingledSql(4)}),
              |s AS MATERIALIZED (SELECT doc_id, shingles, len(shingles) AS sz
              |      FROM sh WHERE len(shingles) > 0),
              |$truthPairsSqlCtes,
              |${bandSigsSql(16, 4)},
              |$candidatesSql,
              |t AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
              |f AS (SELECT count(*)::BIGINT AS n_found FROM truth
              |      WHERE EXISTS (SELECT 1 FROM cand c
              |                    WHERE c.doc_a = truth.doc_a
              |                      AND c.doc_b = truth.doc_b))
              |SELECT n_truth, n_found,
              |  CASE WHEN n_truth > 0
              |       THEN n_found::DOUBLE / n_truth::DOUBLE END AS recall
              |FROM t, f""".stripMargin),
      doc = "LLM-pipeline: banded-LSH candidate recall vs the lossless prefix-filter truth (the LSH contract, measured)",
      sort = Nil
    ),

    // ── SAMPLED LSH-recall harness: the same contract measurement on a
    // deterministic CONTENT-HASH sample of the corpus (phash(text) % 4
    // = 0 → 25%) — the production form. At 100 TB the full lossless
    // truth set is unaffordable (that's the point of LSH), but the
    // recall CONTRACT still needs monitoring: a content-stable sample
    // keeps the same docs in every run/engine, the truth set over the
    // sample costs ~(1/16)th of the full corpus's co-count work
    // (Σ df² with every df scaled by the 25% sampling rate), and the
    // measured recall is an unbiased estimate of the corpus
    // recall (pairs are sampled by membership of both endpoints).
    // `LshRecallSampleSpec` pins agreement with the full-corpus number
    // at sf0.01; both engines replay the identical sample. ──
    "dedup_lsh_recall_sampled" -> Q(
      (s, d) => {
        val sampled = Tables.documents(s, d)
          .where(pmod(phash(col("text")), lit(4L)) === 0L)
        sampled.agg(count(lit(1)).as("n_docs")).crossJoin(lshRecall(sampled))
      },
      Some(s"""WITH docs_s AS (
              |  SELECT doc_id, text FROM documents
              |  WHERE ${phashSql("text")} % 4 = 0),
              |sh AS MATERIALIZED (${shingledSqlFrom(4, "docs_s")}),
              |s AS MATERIALIZED (SELECT doc_id, shingles, len(shingles) AS sz
              |      FROM sh WHERE len(shingles) > 0),
              |$truthPairsSqlCtes,
              |${bandSigsSql(16, 4)},
              |$candidatesSql,
              |nd AS (SELECT count(*)::BIGINT AS n_docs FROM docs_s),
              |t AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
              |f AS (SELECT count(*)::BIGINT AS n_found FROM truth
              |      WHERE EXISTS (SELECT 1 FROM cand c
              |                    WHERE c.doc_a = truth.doc_a
              |                      AND c.doc_b = truth.doc_b))
              |SELECT n_docs, n_truth, n_found,
              |  CASE WHEN n_truth > 0
              |       THEN n_found::DOUBLE / n_truth::DOUBLE END AS recall
              |FROM nd, t, f""".stripMargin),
      doc = "LLM-pipeline: LSH recall on a deterministic 25% content-hash sample (the affordable production form of the contract)",
      sort = Nil
    ),

    // ── Blocked fuzzy entity resolution on the part dim: record-linkage
    // dedup for catalog rows (the reference's mapa build joins on exact
    // SKU; real catalogs need the fuzzy variant). Blocking on
    // (brand, size-band) bounds the quadratic strictly inside blocks —
    // the ER equivalent of LSH buckets; candidates then score on TWO
    // attributes (edit distance ≤ 2 on the name, price gap ≤ 100).
    // Both engines implement textbook Wagner-Fischer levenshtein and
    // IEEE |a−b|, so the scores are engine-exact. Scale: block-key
    // cardinality bounds pair volume; a skewed block salts like
    // `j10_salted_skew_join`. ──
    "er_fuzzy_blocked" -> Q(
      (s, d) => {
        val sel = Tables.part(s, d).select(
          col("p_partkey"), col("p_name"), col("p_brand"),
          expr("p_size div 10").as("szb"), col("p_retailprice"))
        // |len(a)−len(b)| ≤ lev(a,b), so the length gate prunes most
        // block pairs before any DP runs; the 3-arg levenshtein then
        // early-exits at the threshold instead of filling the full
        // matrix. Same predicate semantics as the oracle's plain
        // lev ≤ 2 — the gate is implied, never filtering a match.
        //
        // Parallelism, not pair volume, is this query's scale lever: a
        // dim-sized `part` arrives as 1-2 input splits, and the sf1
        // rehearsal measured the whole in-block scoring (156M generated
        // pairs at 10x) serialized on those splits while 30 threads
        // idled — 12.4x wall at 10x data. The probe side is spread to
        // the cluster's parallelism ONLY when the scan is
        // split-starved (same conditional as Tables.documents: at real
        // scale file splits already parallelize, and the reshuffle of a
        // skinny dim is noise when it fires). If the BLOCKS themselves
        // outgrow a task (catalog 100x with the same 25 brands), the
        // cure is a finer lossless blocking key (PassJoin segment
        // pigeonhole — `er_fuzzy_passjoin`), not more threads.
        val probe = Tables.spreadIfStarved(s, sel)
        // Broadcast the build side: `part` is a catalog dim (266 rows in
        // the reference; dim-sized by contract), so the join must not
        // re-collapse the spread probe into a 2-partition shuffle.
        probe.as("a")
          .join(broadcast(sel.as("b")),
            col("a.p_brand") === col("b.p_brand") &&
              col("a.szb") === col("b.szb") &&
              col("a.p_partkey") < col("b.p_partkey") &&
              abs(length(col("a.p_name")) - length(col("b.p_name"))) <= 2)
          .withColumn("name_dist",
            levenshtein(col("a.p_name"), col("b.p_name"), 2).cast(LongType))
          .withColumn("price_gap",
            abs(col("a.p_retailprice") - col("b.p_retailprice")))
          // the threshold form returns −1 for "exceeds 2" — gate on ≥ 0
          .where(col("name_dist").between(0, 2) && col("price_gap") <= 100.0)
          .select(
            col("a.p_partkey").as("key_a"),
            col("b.p_partkey").as("key_b"),
            col("name_dist"), col("price_gap"))
      },
      Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             |  levenshtein(a.p_name, b.p_name)::BIGINT AS name_dist,
             |  abs(a.p_retailprice - b.p_retailprice) AS price_gap
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand
             | AND (a.p_size // 10) = (b.p_size // 10)
             | AND a.p_partkey < b.p_partkey
             |WHERE levenshtein(a.p_name, b.p_name) <= 2
             |  AND abs(a.p_retailprice - b.p_retailprice) <= 100
             |ORDER BY key_a, key_b""".stripMargin),
      doc = "Extension: blocked fuzzy entity resolution (brand/size-band blocks, levenshtein + price-gap scoring)",
      sort = Seq("key_a", "key_b")
    ),

    // ── The LOSSLESS upgrade of `er_fuzzy_blocked`'s documented trade:
    // that query bounds the quadratic inside (brand, size-band) blocks
    // and so (a) misses every cross-brand match and (b) dies when a
    // block outgrows a task. [[passJoinCandidates]] replaces the coarse
    // attribute block with PassJoin's segment pigeonhole — the blocking
    // key is derived from the NAME ITSELF, candidates are an equi-join
    // on (length, segment-index, segment), and zero true matches can
    // escape (the oracle is the full quadratic join: recall 1.0 is
    // hash-checked, not sampled). Candidates then verify with the
    // early-exit threshold levenshtein; names/prices ride a broadcast
    // join-back against the dim-sized slice. On this fixture's
    // low-entropy vocabulary the segment buckets stay fat (the corpus IS
    // near-duplicate-dense — the true match set is itself quadratic in
    // cluster size); on a real catalog the segments are discriminative
    // and the bucket bound does the work of LSH with exact recall. ──
    "er_fuzzy_passjoin" -> Q(
      (s, d) => {
        val dimSel = Tables.part(s, d)
          .filter(col("p_partkey") < ErPassJoinCap)
          .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        // same split-starvation cure as er_fuzzy_blocked: a dim-sized
        // scan arrives as 1-2 input splits and the candidate explosion
        // inherits that parallelism; spread ONLY when starved (at real
        // scale file splits already parallelize)
        val sel = Tables.spreadIfStarved(s, dimSel)
        val cand = passJoinCandidates(sel, "p_partkey", "p_name", tau = 2)
        cand
          .join(broadcast(dimSel.toDF("key_a", "name_a", "price_a")), "key_a")
          .join(broadcast(dimSel.toDF("key_b", "name_b", "price_b")), "key_b")
          .withColumn("name_dist",
            levenshtein(col("name_a"), col("name_b"), 2).cast(LongType))
          .withColumn("price_gap", abs(col("price_a") - col("price_b")))
          .where(col("name_dist").between(0, 2) && col("price_gap") <= 100.0)
          .select(col("key_a"), col("key_b"), col("name_dist"),
            col("price_gap"))
      },
      Some(s"""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
              |  levenshtein(a.p_name, b.p_name)::BIGINT AS name_dist,
              |  abs(a.p_retailprice - b.p_retailprice) AS price_gap
              |FROM part a JOIN part b
              |  ON a.p_partkey < b.p_partkey
              | AND abs(len(a.p_name) - len(b.p_name)) <= 2
              |WHERE a.p_partkey < $ErPassJoinCap
              |  AND b.p_partkey < $ErPassJoinCap
              |  AND levenshtein(a.p_name, b.p_name) <= 2
              |  AND abs(a.p_retailprice - b.p_retailprice) <= 100
              |ORDER BY key_a, key_b""".stripMargin),
      doc = "Extension: UNBLOCKED lossless fuzzy ER via PassJoin segment pigeonhole (PVLDB 2011) — content-derived blocking, quadratic oracle proves recall 1.0",
      sort = Seq("key_a", "key_b")
    ),

    // ── Containment scoring on the LSH candidate pairs: |A∩B|/|A| and
    // |A∩B|/|B| — the asymmetric cousin of Jaccard that catches
    // quote/subset relationships (a short doc wholly embedded in a long
    // one scores ~1.0 on its side while Jaccard stays low). Candidates
    // still come from the minhash bands, so recall is bounded by the
    // Jaccard-LSH contract — the honest trade, documented: a
    // containment-complete index would band over the SHORTER side's
    // shingles only. Intersections are co-counted on skinny rows (same
    // plan shape as [[jaccardPairs]]); each containment is one exact
    // int→double division. ──
    "dedup_containment" -> Q(
      (s, d) => {
        val sets = shingled(s, d, 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sets.count()
        val pairs = candidates(bandSigs(sets, 32, 4))
        val sizes = sets.select(col("doc_id"), size(col("shingles")).as("sz"))
        val ex = sets.select(col("doc_id"), explode(col("shingles")).as("sh"))
        pairs
          .join(ex.toDF("doc_a", "sh").hint("shuffle_hash"), "doc_a")
          .join(ex.toDF("doc_b", "sh").hint("shuffle_hash"), Seq("doc_b", "sh"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.toDF("doc_a", "sz_a"), "doc_a")
          .join(sizes.toDF("doc_b", "sz_b"), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (col("inter").cast(DoubleType) / col("sz_a").cast(DoubleType))
              .as("containment_a"),
            (col("inter").cast(DoubleType) / col("sz_b").cast(DoubleType))
              .as("containment_b"))
          .filter(greatest(col("containment_a"), col("containment_b")) >= 0.8)
      },
      Some(s"""WITH sh AS MATERIALIZED (${shingledSql(3)}),
              |${bandSigsSql(32, 4)},
              |$candidatesSql,
              |scored AS (
              |  SELECT doc_a, doc_b,
              |    len(list_intersect(a.shingles, b.shingles))::DOUBLE
              |      / len(a.shingles) AS containment_a,
              |    len(list_intersect(a.shingles, b.shingles))::DOUBLE
              |      / len(b.shingles) AS containment_b
              |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
              |            JOIN sh b ON b.doc_id = cand.doc_b)
              |SELECT doc_a, doc_b, containment_a, containment_b FROM scored
              |WHERE greatest(containment_a, containment_b) >= 0.8
              |ORDER BY doc_a, doc_b""".stripMargin),
      doc = "LLM-pipeline: asymmetric containment on LSH candidates (quote/subset detection)",
      sort = Seq("doc_a", "doc_b")
    ),

    // ── Boilerplate ratio: per document, the fraction of its distinct
    // trigram shingles that are CORPUS-COMMON (document frequency above
    // 1% of the corpus) — the RefinedWeb/C4-style repetition signal
    // that flags template pages, navigation chrome, and licence
    // headers before they flood a training set. Scale shape: one
    // (doc, shingle) explode feeds the df aggregation AND the per-doc
    // counting; the common-shingle set joins back by SHUFFLE on the
    // shingle (vocabulary is unbounded at corpus scale — never
    // broadcast, the ta_lm_score rule); the corpus size rides a 1-row
    // broadcast. Integer threshold compare (df * 100 > nDocs), so the
    // common set is engine-exact. ──
    "dedup_boilerplate_ratio" -> Q(
      (s, d) => {
        val sets = shingled(s, d, 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sets.count()
        val ex = sets.select(col("doc_id"), explode(col("shingles")).as("sh"))
        val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
        val common = ex.groupBy(col("sh"))
          .agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .filter(col("df") * 100 > col("nd"))
          .select(col("sh"))
        ex.join(common.hint("shuffle_hash"), Seq("sh"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_common"))
          .join(sets.select(col("doc_id"), size(col("shingles")).as("n_shingles")),
            Seq("doc_id"), "right")
          .filter(col("n_shingles") > 0)
          .select(col("doc_id"),
            col("n_shingles").cast(LongType),
            coalesce(col("n_common"), lit(0L)).as("n_common"),
            (coalesce(col("n_common"), lit(0L)).cast(DoubleType) /
              col("n_shingles").cast(DoubleType)).as("ratio"))
      },
      Some(s"""WITH sh AS MATERIALIZED (${shingledSql(3)}),
              |ex AS (SELECT doc_id, unnest(shingles) AS shg FROM sh),
              |nd AS (SELECT COUNT(*)::BIGINT AS nd FROM documents),
              |dfreq AS (SELECT shg, COUNT(*)::BIGINT AS df FROM ex GROUP BY 1),
              |common AS (SELECT shg FROM dfreq, nd WHERE df * 100 > nd),
              |perdoc AS (
              |  SELECT e.doc_id,
              |    COUNT(*)::BIGINT AS n_shingles,
              |    COUNT(c.shg)::BIGINT AS n_common
              |  FROM ex e LEFT JOIN common c ON c.shg = e.shg
              |  GROUP BY 1)
              |SELECT doc_id, n_shingles, n_common,
              |  CAST(n_common AS DOUBLE) / n_shingles AS ratio
              |FROM perdoc ORDER BY doc_id""".stripMargin),
      doc = "LLM-pipeline: per-doc boilerplate ratio (share of shingles with corpus df > 1%) — template/chrome repetition signal",
      sort = Seq("doc_id")
    ),

    // ── k-NN document graph: per document, its top-3 most-similar
    // neighbors by exact Jaccard, candidates restricted to the LSH
    // bands — the construction step of a similarity graph (the input
    // to graph-based ANN indexes and to cluster-then-dedup pipelines).
    // Pairs symmetrize by a union of the two directions (the verify
    // computed each unordered pair once); the per-doc rank window keys
    // on doc_id — high cardinality, group size bounded by LSH candidate
    // degree, never corpus size. A low 0.1 floor keeps band-collision
    // noise out while ranking, unlike the dedup queries' 0.8 cut. ──
    "dedup_knn_graph" -> Q(
      (s, d) => {
        val sets = shingled(s, d, 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sets.count()
        // both directions in ONE narrow pass (r17): the explode of a
        // two-struct array references the LSH+verify pipeline once, so
        // the localCheckpoint that existed only to stop the symmetrize
        // union from executing it per branch (measured ~2× this query)
        // is gone — no materialization barrier at all.
        val sym = jaccardPairs(candidates(bandSigs(sets, 32, 4)), sets, 0.1)
          .select(explode(array(
            struct(col("doc_a").as("doc_id"),
              col("doc_b").as("neighbor_id"), col("jaccard")),
            struct(col("doc_b").as("doc_id"),
              col("doc_a").as("neighbor_id"), col("jaccard")))).as("e"))
          .select(col("e.doc_id").as("doc_id"),
            col("e.neighbor_id").as("neighbor_id"), col("e.jaccard").as("jaccard"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("jaccard").desc, col("neighbor_id").asc)
        sym.withColumn("rnk", row_number().over(w).cast(LongType))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("neighbor_id"),
            col("jaccard"))
      },
      Some(s"""WITH sh AS MATERIALIZED (${shingledSql(3)}),
              |${bandSigsSql(32, 4)},
              |$candidatesSql,
              |scored AS (
              |  SELECT doc_a, doc_b,
              |    len(list_intersect(a.shingles, b.shingles))::DOUBLE
              |      / len(list_distinct(a.shingles || b.shingles)) AS jaccard
              |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
              |            JOIN sh b ON b.doc_id = cand.doc_b
              |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
              |      / len(list_distinct(a.shingles || b.shingles)) >= 0.1),
              |sym AS (
              |  SELECT doc_a AS doc_id, doc_b AS neighbor_id, jaccard FROM scored
              |  UNION ALL
              |  SELECT doc_b, doc_a, jaccard FROM scored)
              |SELECT doc_id,
              |  row_number() OVER (PARTITION BY doc_id
              |    ORDER BY jaccard DESC, neighbor_id)::BIGINT AS rnk,
              |  neighbor_id, jaccard
              |FROM sym
              |QUALIFY rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
      doc = "LLM-pipeline: k-NN similarity graph (top-3 Jaccard neighbors within LSH candidates)",
      sort = Seq("doc_id", "rnk")
    ),

    // ── Incremental dedup: a NEW ingest batch (doc_id ≡ 0 mod 10 plays
    // the arriving shard) deduped against the EXISTING corpus — the
    // asymmetric join every continuous-ingest pipeline runs instead of
    // re-pairing the whole corpus: candidates are (band, sig) collisions
    // of new×old only, so per-ingest work scales with the batch, not
    // the corpus. At 100 TB the old side's band signatures are a stored
    // index you append to — exactly this relation. Verify is the same
    // skinny-row co-counted Jaccard. ──
    "dedup_incremental" -> Q(
      (s, d) => {
        val sets = shingled(s, d, 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sets.count()
        val isNew = col("doc_id") % 10 === 0
        val newSigs = bandSigs(sets.filter(isNew), 32, 4)
        val oldSigs = bandSigs(sets.filter(!isNew), 32, 4)
        val cand = newSigs.as("x").hint("shuffle_hash")
          .join(oldSigs.as("y").hint("shuffle_hash"),
            col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
        jaccardPairs(cand, sets, 0.8)
      },
      Some(s"""WITH sh AS MATERIALIZED (${shingledSql(3)}),
              |${bandSigsSql(32, 4)},
              |cand AS (
              |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              |  FROM bands x JOIN bands y
              |    ON x.band = y.band AND x.sigstr = y.sigstr
              |   AND x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0),
              |${jaccardPairsSql(0.8)}""".stripMargin),
      doc = "LLM-pipeline: incremental ingest dedup (new batch vs corpus, batch-sized work)",
      sort = Seq("doc_a", "doc_b")
    ),

    // ── Boilerplate detection: the 20 word-4-grams shared by the most
    // documents — the corpus diagnostic that surfaces templated spans
    // (headers, footers, licence blurbs) before near-dup thresholds are
    // tuned. word_shingles emits DISTINCT shingles per doc, so a plain
    // count per shingle IS document frequency; one skinny shuffle, then
    // a semantic top-k (TakeOrdered, never a global sort). ──
    "dedup_boilerplate_ngrams" -> Q(
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(call_function("word_shingles", col("text"), lit(4)))
            .as("sh"))
          .groupBy(col("sh"))
          .agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("sh").asc)
          .limit(20),
      Some(s"""SELECT sh, COUNT(*) ::BIGINT AS df
              |FROM (SELECT doc_id, unnest(shingles) AS sh FROM (${shingledSql(4)}))
              |GROUP BY 1 ORDER BY df DESC, sh LIMIT 20""".stripMargin),
      doc = "LLM-pipeline: boilerplate span detection (top n-grams by document frequency)",
      sort = Nil
    ),

    // ── Cluster the near-dup graph and pick one survivor per cluster:
    // THREE fixed rounds of min-label propagation over the (symmetric)
    // minhash edge list — enough for the planted clusters' diameter, and
    // a FIXED count so the DuckDB twin replays the identical state even
    // if some hypothetical larger component hasn't converged. Each round
    // is one join + one groupBy on skinny (doc, label) rows — the
    // standard iterative-CC shape that scales with the edge list, not
    // the corpus. Survivor = lowest doc_id in the cluster. ──
    "dedup_survivors" -> Q(
      (s, d) => propagatedLabels3(s, d)
        .select(col("doc_id"), col("label").as("cluster_id"),
          (col("doc_id") === col("label")).as("is_survivor")),
      Some(s"""$labels3Sql
              |SELECT doc_id, label AS cluster_id, doc_id = label AS is_survivor
              |FROM l3 ORDER BY doc_id""".stripMargin),
      doc = "LLM-pipeline: connected-component dedup clusters + canonical survivor",
      sort = Seq("doc_id")
    ),

    // ── Leakage-safe train/val/test split: the assignment is a pure
    // function of the NEAR-DUP CLUSTER, never the document — so two
    // near-duplicates can never straddle train and test (the eval-set
    // contamination every dedup-then-split pipeline exists to prevent;
    // splitting by doc_id hash does NOT give this). Cluster labels are
    // the same 3-round propagation as `dedup_survivors`; the 80/10/10
    // bucket is the portable content-hash family over the cluster id,
    // so both engines (and every rerun) place every cluster
    // identically. Scale: one hash per row on top of the cluster
    // labeling, which is computed in the call — the split itself is
    // map-only. ──
    "ta_split_leakage_safe" -> Q(
      (s, d) => {
        val bucket = pmod(phash(col("label").cast(StringType)), lit(10L))
        propagatedLabels3(s, d)
          .select(col("doc_id"), col("label").as("cluster_id"),
            when(bucket < 8, lit("train"))
              .when(bucket === 8, lit("val"))
              .otherwise(lit("test")).as("split"))
      },
      Some(s"""$labels3Sql
              |SELECT doc_id, label AS cluster_id,
              |  CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM (SELECT doc_id, label,
              |        ${phashSql("label::VARCHAR")} % 10 AS h
              |      FROM l3)
              |ORDER BY doc_id""".stripMargin),
      doc = "LLM-pipeline: leakage-safe split — assignment is a content-hash of the near-dup cluster, so no near-duplicate pair straddles train/test",
      sort = Seq("doc_id")
    ),

    // ── Embedding-cosine near-dup inside OCCUPANCY-SCALED LSH cells
    // (round-7 directive: the fixture-label form joined within a FIXED
    // 10 cells, so in-cell pairs grew as (N/10)² — measured 5.76× wall
    // at 10× data). Cells are now random-hyperplane (SimHash-for-cosine)
    // buckets whose WIDTH scales with the corpus: every vector gets a
    // 16-bit md5-derived hyperplane signature (map-only — the tiny
    // matrix is plan literals, at scale a broadcast), masked down to the
    // smallest b with 2^b · 32 ≥ N, so expected occupancy stays ≈ 32
    // and in-cell pair volume grows LINEARLY in N (measured on the
    // fixture: 8 066 pairs at 500 rows → 32 902 at 2 000 — 4.1× for 4×).
    // Centroid-assigned cells (the IVF alternative) were rejected for
    // this job: with k ∝ N the assignment argmax itself is N·k = N²/occ
    // work, while the hyperplane mask is corpus-size-independent per
    // row and needs no training pass to keep deterministic. N enters
    // the plan as a 1-row broadcast (count → mask via an integer-exact
    // CASE chain — no float log2 for the engines to disagree on), so
    // both engines derive the identical mask from the identical count.
    // Cosine ≥ 0.4 marks near-dups; similarity is a 1e-6-quantized
    // DOUBLE (rounded through a LONG intermediate, identically in both
    // engines) so the last-ulp of float summation can never flip the
    // compare and no decimal128 reaches the driver's hash. ──
    "dedup_embedding_cosine" -> Q(
      (s, d) => {
        val cells = embeddingCells(s, d)
        val a = cells.select(col("vec_id").as("vec_a"), col("cell"),
          col("v").as("va"), col("norm").as("na"))
        val b = cells.select(col("vec_id").as("vec_b"), col("cell").as("cb"),
          col("v").as("vb"), col("norm").as("nb"))
        val raw = AnnOps.dot(col("va"), col("vb")) / (col("na") * col("nb"))
        a.join(b, col("cell") === col("cb") && col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"), col("cell"),
            (round(raw * 1e6).cast(LongType).cast(DoubleType) / 1e6)
              .as("cos_sim"))
          .filter(col("cos_sim") >= 0.4)
      },
      Some(s"""WITH $embeddingCellsSqlCtes
              |SELECT * FROM (
              |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
              |    CAST(round(${AnnOps.dotSql("a.v", "b.v")} / (a.norm * b.norm)
              |               * 1e6) AS BIGINT) / 1e6 AS cos_sim
              |  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id)
              |WHERE cos_sim >= 0.4
              |ORDER BY vec_a, vec_b""".stripMargin),
      doc = "LLM-pipeline: embedding cosine near-dup within occupancy-scaled random-hyperplane cells (cell count ∝ corpus size, in-cell pairs linear in N)",
      sort = Seq("vec_a", "vec_b")
    ),

    // ── Hamming-1 MULTIPROBE widening of `dedup_embedding_cosine`: a
    // pair is a candidate if its masked cells agree OR differ in one
    // bit — each vector probes its own bucket plus the b single-bit
    // flips, the standard multiprobe recall trade (`ann_topk_lsh`'s,
    // applied to pair generation). Measured on the fixture it lifts
    // recall vs the exact cos ≥ 0.4 truth from 0.07 to 0.30 at sf0.1
    // (`dedup_embedding_recall` reports both, oracle-gated) at
    // (bits+1)× candidate volume — still LINEAR in N, since per-probe
    // occupancy stays at the mask's target. A pair at Hamming ≤ 1
    // matches on exactly ONE of the ordered side's probes (own bucket
    // for distance 0, the single differing bit for distance 1), so no
    // distinct is needed and no pair is scored twice. ──
    "dedup_embedding_cosine_mp" -> Q(
      (s, d) => {
        val cells = embeddingCells(s, d)
        val a = cells.select(col("vec_id").as("vec_a"),
            explode(cellProbes(col("cell"))).as("probe"),
            col("v").as("va"), col("norm").as("na"))
        val b = cells.select(col("vec_id").as("vec_b"), col("cell"),
          col("v").as("vb"), col("norm").as("nb"))
        val raw = AnnOps.dot(col("va"), col("vb")) / (col("na") * col("nb"))
        a.join(b, col("probe") === col("cell") && col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            (round(raw * 1e6).cast(LongType).cast(DoubleType) / 1e6)
              .as("cos_sim"))
          .filter(col("cos_sim") >= 0.4)
      },
      Some(s"""WITH $embeddingCellsSqlCtes,
              |p AS (SELECT vec_id, v, norm,
              |        unnest($cellProbesSql) AS probe FROM c)
              |SELECT * FROM (
              |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |    CAST(round(${AnnOps.dotSql("a.v", "b.v")} / (a.norm * b.norm)
              |               * 1e6) AS BIGINT) / 1e6 AS cos_sim
              |  FROM p a JOIN c b ON a.probe = b.cell AND a.vec_id < b.vec_id)
              |WHERE cos_sim >= 0.4
              |ORDER BY vec_a, vec_b""".stripMargin),
      doc = "LLM-pipeline: embedding cosine near-dup with Hamming-1 multiprobe over the occupancy-scaled cells (recall 0.07 → 0.30 at (bits+1)× linear cost)",
      sort = Seq("vec_a", "vec_b")
    ),

    // ── The embedding family's measured-recall gate — the cosine
    // sibling of `dedup_lsh_recall`: exact brute-force cos ≥ 0.4 truth
    // over a capped slice ([[RecallCap]] — ground truth is unavoidably
    // quadratic, so it is bounded the way every eval in this repo is),
    // against the single-probe and multiprobe candidate paths run on
    // the SAME slice. Found pairs verify with the exact quantized
    // cosine, so found ⊆ truth and recall is a pure count ratio — no
    // intersection join, and both engines derive the identical integers
    // (the division of two ≤2^53 longs is correctly rounded in both).
    // The truth crossJoin is a bounded BROADCAST (the slice), the
    // accepted eval-slice shape (`ta_decontaminate_semantic`). ──
    "dedup_embedding_recall" -> Q(
      (s, d) => {
        val slice = embeddingCells(s, d)
          .filter(col("vec_id") < RecallCap).persist()
        val quant = (raw: Column) =>
          round(raw * 1e6).cast(LongType).cast(DoubleType) / 1e6
        val bSide = slice.select(col("vec_id").as("vec_b"),
          col("cell").as("cb"), col("v").as("vb"), col("norm").as("nb"))
        val raw = AnnOps.dot(col("v"), col("vb")) / (col("norm") * col("nb"))
        def hits(pairs: DataFrame): Column =
          lit(pairs.filter(quant(raw) >= 0.4 && col("vec_id") < col("vec_b"))
            .count())
        val truth = hits(slice.crossJoin(broadcast(bSide)))
        val single = hits(slice.join(bSide, col("cell") === col("cb")))
        val multi = hits(
          slice.select(col("vec_id"), col("v"), col("norm"),
              explode(cellProbes(col("cell"))).as("probe"))
            .join(bSide, col("probe") === col("cb")))
        val out = slice.sparkSession.range(1).select(
          truth.as("n_truth"), single.as("n_single"),
          (single.cast(DoubleType) / truth).as("recall_single"),
          multi.as("n_multi"),
          (multi.cast(DoubleType) / truth).as("recall_multi"))
        slice.unpersist()
        out
      },
      Some(s"""WITH $embeddingCellsSqlCtes,
              |s AS (SELECT * FROM c WHERE vec_id < $RecallCap),
              |p AS (SELECT vec_id, v, norm,
              |        unnest($cellProbesSql) AS probe FROM s),
              |t AS (SELECT count(*) AS n_truth FROM (
              |  SELECT CAST(round(${AnnOps.dotSql("a.v", "b.v")}
              |      / (a.norm * b.norm) * 1e6) AS BIGINT) / 1e6 AS cs
              |  FROM s a JOIN s b ON a.vec_id < b.vec_id) WHERE cs >= 0.4),
              |sg AS (SELECT count(*) AS n_single FROM (
              |  SELECT CAST(round(${AnnOps.dotSql("a.v", "b.v")}
              |      / (a.norm * b.norm) * 1e6) AS BIGINT) / 1e6 AS cs
              |  FROM s a JOIN s b
              |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
              |  WHERE cs >= 0.4),
              |mp AS (SELECT count(*) AS n_multi FROM (
              |  SELECT CAST(round(${AnnOps.dotSql("a.v", "b.v")}
              |      / (a.norm * b.norm) * 1e6) AS BIGINT) / 1e6 AS cs
              |  FROM p a JOIN s b
              |    ON a.probe = b.cell AND a.vec_id < b.vec_id)
              |  WHERE cs >= 0.4)
              |SELECT n_truth, n_single,
              |  n_single::DOUBLE / n_truth AS recall_single,
              |  n_multi, n_multi::DOUBLE / n_truth AS recall_multi
              |FROM t, sg, mp""".stripMargin),
      doc = "LLM-pipeline: measured recall of the occupancy-scaled cell near-dup (single-probe and Hamming-1 multiprobe) vs exact brute-force cos truth on a capped slice",
      sort = Nil
    ),

    // ── MULTI-SIGNAL dedup: one survivor set over the union of the
    // lexical (MinHash-LSH, J ≥ 0.8 — verbatim/near-verbatim copies)
    // and semantic (occupancy-scaled cells, cos ≥ 0.4 — paraphrases)
    // signals. This is the production training-data policy the two
    // families exist to serve: a doc that is a verbatim copy of A and
    // a paraphrase of B collapses all three into ONE cluster — running
    // the families separately and intersecting survivor sets does NOT
    // give this (chains through mixed edges survive both single-signal
    // passes). Computed on the COLLAPSED graph (see
    // [[multiSignalLabels]]): 3-round lexical clusters contract
    // to representatives, semantic edges walk rep-to-rep, and the
    // EXACT fixpoint closes over reps — the twin replays the identical
    // 3 lexical rounds plus a recursive closure, so nothing diverges.
    // The fixture's embeddings share the documents' id space
    // (vec_id = doc_id — TESTDATA's contract). ──
    "dedup_multi_signal" -> Q(
      (s, d) => multiSignalLabels(s, d)
        .select(col("doc_id"), col("cluster_id"), col("is_survivor")),
      Some(s"""$multiSignalSqlCtes
              |SELECT doc_id, cluster_id,
              |  cluster_id = doc_id AS is_survivor
              |FROM mslabels ORDER BY doc_id""".stripMargin),
      doc = "LLM-pipeline: multi-signal dedup — one survivor set over lexical (MinHash J>=0.8) clusters + semantic (cell cosine >= 0.4) edges, exact-closure-merged on the collapsed representative graph; mixed-edge chains collapse into one cluster",
      sort = Seq("doc_id")
    ),

    // ── The leakage-safe split closed over BOTH signals:
    // `ta_split_leakage_safe` keys the assignment on the LEXICAL
    // near-dup cluster, so a PARAPHRASE of a training document can
    // still land in test (embedding-level leakage — exactly what
    // decontamination papers flag). Here the bucket is a content hash
    // of the MULTI-SIGNAL cluster id, so no verbatim-OR-paraphrase
    // pair — nor any chain through mixed edges — straddles splits.
    // Same 80/10/10 portable-hash bucketing as the lexical split. ──
    "ta_split_multi_signal" -> Q(
      (s, d) => {
        val bucket = pmod(phash(col("cluster_id").cast(StringType)), lit(10L))
        multiSignalLabels(s, d)
          .select(col("doc_id"), col("cluster_id"),
            when(bucket < 8, lit("train"))
              .when(bucket === 8, lit("val"))
              .otherwise(lit("test")).as("split"))
      },
      Some(s"""$multiSignalSqlCtes
              |SELECT doc_id, cluster_id,
              |  CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM (SELECT doc_id, cluster_id,
              |        ${phashSql("cluster_id::VARCHAR")} % 10 AS h
              |      FROM mslabels)
              |ORDER BY doc_id""".stripMargin),
      doc = "LLM-pipeline: leakage-safe split over MULTI-SIGNAL clusters — no verbatim or paraphrase near-dup pair straddles train/test",
      sort = Seq("doc_id")
    ),

    // ── Semantic decontamination: the embedding-level sibling of
    // `ta_decontaminate`'s shared-13-gram test — n-grams catch verbatim
    // leakage, cosine catches paraphrased leakage. Benchmark = a
    // held-out deterministic slice (vec_id % 20 = 0, replayed
    // identically by both engines); every remaining corpus vector
    // scores its MAX cosine against the whole benchmark. Plan shape is
    // `ann_topk_bruteforce`'s: the benchmark BROADCASTS (an eval set is
    // bounded by construction) and the corpus streams map-side into a
    // per-vector max — no shuffle of the corpus, no pairwise
    // materialization past the aggregate. `contaminated` fires at the
    // near-dup family's cosine bar (0.4): a training vector whose
    // nearest benchmark member would count as a near-dup leaks eval
    // signal. Cosines are 1e-6-quantized BEFORE the max (identically in
    // both engines) so float summation order can never flip the flag. ──
    "ta_decontaminate_semantic" -> Q(
      (s, d) => {
        val e = AnnOps.withNorm(Tables.embeddings(s, d))
        val bench = e.filter(pmod(col("vec_id"), lit(20L)) === 0)
          .select(col("v").as("bv"), col("norm").as("bn"))
        val corpus = e.filter(pmod(col("vec_id"), lit(20L)) =!= 0)
        val raw = AnnOps.dot(col("v"), col("bv")) / (col("norm") * col("bn"))
        corpus.crossJoin(broadcast(bench))
          .select(col("vec_id"),
            (round(raw * 1e6).cast(LongType).cast(DoubleType) / 1e6)
              .as("cos"))
          .groupBy(col("vec_id"))
          .agg(max(col("cos")).as("max_benchmark_cos"))
          .select(col("vec_id"), col("max_benchmark_cos"),
            (col("max_benchmark_cos") >= 0.4).as("contaminated"))
      },
      Some(s"""WITH e AS (${AnnOps.withNormSql}),
              |b AS (SELECT v, norm FROM e WHERE vec_id % 20 = 0),
              |c AS (SELECT vec_id, v, norm FROM e WHERE vec_id % 20 <> 0),
              |s AS (
              |  SELECT c.vec_id,
              |    CAST(round(${AnnOps.dotSql("c.v", "b.v")} / (c.norm * b.norm)
              |               * 1e6) AS BIGINT) / 1e6 AS cos
              |  FROM c CROSS JOIN b)
              |SELECT vec_id, max(cos) AS max_benchmark_cos,
              |  max(cos) >= 0.4 AS contaminated
              |FROM s GROUP BY 1 ORDER BY vec_id""".stripMargin),
      doc = "LLM-pipeline: semantic decontamination — per-vector max cosine vs a held-out benchmark slice (broadcast), near-dup-threshold flag",
      sort = Seq("vec_id")
    )
  )
}
