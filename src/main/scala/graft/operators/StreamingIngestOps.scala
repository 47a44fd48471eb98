package graft.operators

import graft.{Exprs, Fixtures, OpModule, Pipeline, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}

/** The streaming ingest family under the DRIVER'S oracle gate (the r6
  * verdict's directive): until now the three continuous workers —
  * [[graft.streaming.DedupIngest]] (exact insert-if-absent),
  * [[graft.streaming.NearDupIngest]] (banded-LSH near-dup), and
  * [[graft.streaming.AnnIngest]] (IVF index maintenance) — were gated
  * only by their kill/resume scalatest suites, invisible to the
  * per-round CORRECTNESS artifact. Each query here lands a
  * DETERMINISTIC two-batch split of the fixture (doc/vec id parity;
  * even ids land first), drains the worker AvailableNow over a fresh
  * warehouse + checkpoint, and returns the worker's FINAL table state,
  * which the DuckDB twin replays batch by batch — first-arrival-wins,
  * within-batch clustering, corpus checks, frozen-quantizer
  * assignment and all.
  *
  * The fixture subset is capped (`id < 1000`) so the gate's cost stays
  * bounded at every SF: these queries verify the workers' SEMANTICS;
  * their scale posture (per-batch work, table-resident state) is
  * argued and measured on the workers themselves.
  *
  * The near-dup twin replays min-label propagation with a RECURSIVE
  * transitive closure (exact fixpoint — the worker's
  * `survivorsToFixpoint` has no round bound, so a fixed-round replay
  * would diverge on a deep cluster; the capped corpus keeps the
  * closure tiny).
  */
object StreamingIngestOps extends OpModule {

  /** A fresh `graft-gate-<tag>*` temp dir. A gate's result reads its
    * warehouse lazily, so the dir outlives the query call; it is
    * deleted at JVM exit. */
  private def gateDir(tag: String): Path =
    Fixtures.tempDirDeletedAtExit(s"graft-gate-$tag")

  /** Fresh (flat-input, warehouse, checkpoint) dirs for one drain. */
  private def dirs(tag: String): (Path, String, String, String) = {
    val base = gateDir(tag)
    val flat = base.resolve("in").toString
    new java.io.File(flat).mkdirs()
    (base, flat, base.resolve("wh").toString, base.resolve("ckpt").toString)
  }

  /** Capped deterministic corpus: the gate's semantics don't need the
    * whole table, and the cap bounds the drain at every SF. */
  private val IdCap = 1000L

  private def docSubset(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < IdCap)
      .select(col("doc_id"), col("text"))

  private val docSubsetSql =
    s"(SELECT doc_id, text FROM documents WHERE doc_id < $IdCap)"

  /** Land even ids at t0, odd ids at t0+60s, drain the worker through
    * the REAL streaming harness (readStream → AvailableNow →
    * checkpoint). Retained for `dedup_ingest_survivors` so one oracle
    * row keeps pinning the full readStream-to-warehouse path; the
    * other gates drive the foreachBatch body directly
    * ([[driveTwoBatches]]) — the semantics under test live entirely in
    * processBatch, and the harness machinery is covered here and by
    * every kill/resume spec.
    *
    * The synchronous AvailableNow window runs inside
    * [[withMicroBatchConf]] (2 shuffle partitions): the capped corpus's
    * micro-batch states are a few hundred rows, AQE cannot coalesce inside a
    * stream, and at 32 partitions every per-batch upsert schedules 32
    * tasks and lands 32 near-empty files that the NEXT batch re-reads —
    * measured as the dominant cost of these gates. Production sizes
    * shuffle partitions to state size for exactly this reason; the
    * workers' semantics are partitioning-independent (oracle-gated). */
  private def drainTwoBatches(
      s: SparkSession, tag: String, rows: DataFrame, idCol: String,
      run: (SparkSession, String, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): String = {
    val (base, flat, wh, ckpt) = dirs(tag)
    val t0 = System.currentTimeMillis() - 120000
    // both batch files land from ONE job: the parity split writes as a
    // partition column (range-partitioned so each parity is exactly one
    // task → one file), then the two files move into the flat source
    // dir with the mtimes that encode batch order. The per-batch land()
    // form scheduled the upstream read/join twice.
    val tmp = base.resolve("land.tmp").toString
    rows.withColumn("__par", pmod(col(idCol), lit(2)).cast("int"))
      .repartitionByRange(2, col("__par"))
      .write.partitionBy("__par").parquet(tmp)
    for ((par, name, mtime) <- Seq((0, "b0", t0), (1, "b1", t0 + 60000))) {
      val dir = new java.io.File(s"$tmp/__par=$par")
      require(dir.isDirectory,
        s"gate '$tag': parity $par landed no file (empty batch)")
      val part = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1,
        s"gate '$tag': parity $par landed ${part.length} files, expected 1")
      val target = new java.io.File(s"$flat/$name.parquet")
      Files.move(part.head.toPath, target.toPath)
      target.setLastModified(mtime)
    }
    withMicroBatchConf(s) {
      val q = run(s, flat, wh, ckpt)
      // awaitTermination(timeout) returns FALSE on timeout with the drain
      // still live — stop it and fail the gate loudly. Letting the
      // timeout fall through would restore shuffle.partitions under a
      // running drain (remaining micro-batches silently re-planned at the
      // bench partition count) and read a partially-drained warehouse as
      // if it were the final state.
      if (!q.awaitTermination(300000)) {
        q.stop()
        throw new IllegalStateException(
          s"streaming gate '$tag' did not drain within 300s; failing " +
            "instead of reading a partial warehouse")
      }
    }
    wh
  }

  /** Drive the worker's foreachBatch body DIRECTLY over the same
    * deterministic parity split (even ids = batch 0, odd = batch 1 —
    * the order [[drainTwoBatches]]'s mtimes encode). The gates verify
    * WORKER SEMANTICS, which live entirely in processBatch; the
    * streaming harness around it is pinned by `dedup_ingest_survivors`
    * (still harness-drained) and by every kill/resume spec, so the
    * other gates skip ~2 s each of listing/WAL/commit machinery and
    * the fixture-to-parquet re-land without weakening what the oracle
    * checks. Same shuffle-partitions sizing as the harness drain. */
  private def driveTwoBatches(
      s: SparkSession, rows: DataFrame, idCol: String,
      run: (DataFrame, Long, String) => Unit,
      mid: (String, DataFrame) => Unit = (_, _) => ()): String = {
    val wh = gateDir("direct").resolve("wh").toString
    withMicroBatchConf(s) {
      // the two parity batches derive from one cached upstream read
      // instead of recomputing the source scan/join per batch. The
      // narrow coalesce caps the cached partition count at the drive
      // window's shuffle size: the fixture loaders spread single-file
      // tables to defaultParallelism (right for the big batch queries),
      // and every downstream cache scan here would otherwise schedule 32
      // near-empty tasks per job — a real stream's micro-batch arrives as
      // one file and never has this shape.
      val cached = rows.coalesce(2).persist()
      try {
        run(cached.filter(col(idCol) % 2 === 0), 0L, wh)
        // mid-stream hook: the lifecycle gate interposes replays and
        // maintenance ops (takedown, rebucket) between the two batches
        mid(wh, cached)
        run(cached.filter(col(idCol) % 2 === 1), 1L, wh)
      } finally cached.unpersist()
    }
    wh
  }

  /** A gate's committed state table, read with its footer schema: the
    * result's plan starts no schema-inference job outside the drain's
    * phases. */
  private def result(s: SparkSession, dir: String): DataFrame =
    s.read.schema(Tables.footerSchema(s, dir)).parquet(dir)

  /** The gates' micro-batch conf window: `body` runs at these settings
    * and the session's own values come back however it ends.
    *  - 2 shuffle partitions: the capped corpus's batch states are a
    *    few hundred rows (see [[drainTwoBatches]]).
    *  - AQE off: at 2 partitions there is nothing for it to coalesce,
    *    and its per-exchange stage materialization schedules every tiny
    *    shuffle as its own job — measured as pure driver overhead at
    *    micro-batch state sizes.
    *  - Codegen off: every micro-batch's plan embeds its batch id
    *    (`lit(batchId)`), so no generated class is ever reused across
    *    batches or runs — the gates were paying a Janino whole-stage
    *    compile per stage (~99 stages/run measured) to process a few
    *    hundred rows each, which is also exactly the JIT-warmth
    *    sensitivity that made fresh-JVM re-times diverge from session
    *    numbers. Interpreted mode is the right engine at micro-batch
    *    sizes; production batches are orders of magnitude past the
    *    crossover and keep codegen. */
  private def withMicroBatchConf[T](s: SparkSession)(body: => T): T = {
    val window = Seq(
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = window.map { case (k, _) => k -> s.conf.get(k) }
    window.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => s.conf.set(k, v) }
  }

  def queries: Map[String, Q] = Map(
    // ── Exact-dedup worker, end to end under the oracle: batch 0 (even
    // doc_ids) then batch 1 (odd), insert-if-absent on the content
    // hash. Final survivors = per content class, the first-arriving
    // batch's lowest doc_id; batch_id records the admitting batch. The
    // twin replays the race as one window: rank rows per hash by
    // (batch, doc_id). ──
    "dedup_ingest_survivors" -> Q(
      (s, d) => {
        val wh = drainTwoBatches(s, "dedup", docSubset(s, d), "doc_id",
          Pipeline.runDedupIngest(_, _, _, _))
        result(s, s"$wh/dedup_survivors")
          .select(col("doc_id").cast(LongType),
            col("content_hash").cast(LongType),
            col("batch_id").cast(LongType))
      },
      Some(s"""WITH h AS (
              |  SELECT doc_id, doc_id % 2 AS b,
              |    ${Exprs.phashSql("COALESCE(text, '')")} AS content_hash
              |  FROM documents WHERE doc_id < $IdCap),
              |ranked AS (
              |  SELECT doc_id, b, content_hash,
              |    row_number() OVER (PARTITION BY content_hash
              |      ORDER BY b, doc_id) AS rn
              |  FROM h)
              |SELECT doc_id::BIGINT AS doc_id, content_hash,
              |  b::BIGINT AS batch_id
              |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin),
      doc = "Streaming gate: exact-dedup worker drained over a 2-batch parity split; final survivors vs the replayed first-arrival race",
      sort = Seq("doc_id")
    ),

    // ── Near-dup worker under the oracle. Per batch the worker
    // clusters within the batch (banded LSH candidates → exact-Jaccard
    // edges → min-label fixpoint, lowest id wins), then drops winners
    // that near-match an already-admitted survivor via the signature
    // index. The twin replays both batches: the within-batch fixpoint
    // as a recursive transitive closure over the verified edge set
    // (exact — no round bound to disagree with), the corpus check as
    // the batch-1-winner × batch-0-survivor band collision + Jaccard
    // verify. ──
    "neardup_ingest_final_state" -> Q(
      (s, d) => {
        val wh = driveTwoBatches(s, docSubset(s, d), "doc_id",
          (b, id, w) => graft.streaming.NearDupIngest.processBatch(b, id, w))
        result(s, s"$wh/neardup_survivors")
          .select(col("doc_id").cast(LongType),
            col("batch_id").cast(LongType))
      },
      Some {
        // per-batch within-batch clustering: candidates among parity-p
        // docs → verified edges → symmetric closure → survivor = no
        // reachable doc with a lower id
        def batchCluster(p: Int): String =
          s"""cand$p AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bands y
             |    ON x.band = y.band AND x.sigstr = y.sigstr
             |   AND x.doc_id < y.doc_id
             |  WHERE x.doc_id % 2 = $p AND y.doc_id % 2 = $p),
             |edge$p AS (
             |  SELECT a, b FROM (
             |    SELECT c.a, c.b,
             |      len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
             |        / len(list_distinct(sa.shingles || sb.shingles)) AS j
             |    FROM cand$p c JOIN sh sa ON sa.doc_id = c.a
             |                  JOIN sh sb ON sb.doc_id = c.b)
             |  WHERE j >= 0.8),
             |sym$p AS (SELECT a AS s, b AS d FROM edge$p
             |          UNION ALL SELECT b, a FROM edge$p),
             |reach$p AS (
             |  SELECT s AS a, d AS b FROM sym$p
             |  UNION
             |  SELECT r.a, e.d FROM reach$p r JOIN sym$p e ON e.s = r.b),
             |win$p AS (
             |  SELECT d.doc_id FROM
             |    (SELECT doc_id FROM documents
             |     WHERE doc_id < $IdCap AND doc_id % 2 = $p) d
             |  LEFT JOIN (SELECT a, min(b) AS mb FROM reach$p GROUP BY 1) r
             |    ON r.a = d.doc_id
             |  WHERE coalesce(r.mb, d.doc_id) >= d.doc_id)""".stripMargin
        s"""WITH RECURSIVE sh AS (${DedupOps.shingledSqlFrom(3, docSubsetSql)}),
           |${DedupOps.bandSigsSql(32, 4)},
           |${batchCluster(0)},
           |${batchCluster(1)},
           |candX AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.sigstr = y.sigstr
           |  JOIN win1 w1 ON w1.doc_id = x.doc_id
           |  JOIN win0 w0 ON w0.doc_id = y.doc_id),
           |dropX AS (
           |  SELECT DISTINCT c.a AS doc_id
           |  FROM candX c JOIN sh sa ON sa.doc_id = c.a
           |               JOIN sh sb ON sb.doc_id = c.b
           |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
           |        / len(list_distinct(sa.shingles || sb.shingles)) >= 0.8)
           |SELECT doc_id::BIGINT AS doc_id, 0::BIGINT AS batch_id FROM win0
           |UNION ALL
           |SELECT doc_id::BIGINT, 1::BIGINT FROM win1
           |WHERE doc_id NOT IN (SELECT doc_id FROM dropX)
           |ORDER BY doc_id""".stripMargin
      },
      doc = "Streaming gate: near-dup worker drained over a 2-batch parity split; final survivors vs a full batch-by-batch replay (recursive-closure clustering + index corpus check)",
      sort = Seq("doc_id")
    ),

    // ── ANN-index worker under the oracle. Batch 0 (even vec_ids)
    // bootstraps the frozen quantizer — one centroid per label via the
    // engine-exact 1e-7 fixed-point mean (`ann_ivf_centroids`'
    // formula) — then EVERY vector (both batches) is assigned by
    // nearest-centroid cosine, ties to the lowest cell. The twin
    // recomputes the centroids from the even half and replays the
    // argmax; the dot-product fold is bit-identical on both sides
    // (AnnOps' convention). ──
    "ann_ingest_index" -> Q(
      (s, d) => {
        val vecs = Tables.embeddings(s, d).filter(col("vec_id") < IdCap)
        val wh = driveTwoBatches(s, vecs, "vec_id",
          (b, id, w) => graft.streaming.AnnIngest.processBatch(b, id, w))
        result(s, s"$wh/ann_index")
          .select(col("vec_id").cast(LongType),
            col("cell").cast(LongType),
            col("batch_id").cast(LongType))
      },
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, v, ${AnnOps.normSql("v")} AS norm
              |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
              |        FROM embeddings WHERE vec_id < $IdCap)),
              |cent AS (
              |  SELECT label AS cell, i AS dim,
              |    CAST(SUM(CAST(round(v[i] * 1e7) AS BIGINT)) AS DOUBLE)
              |      / 1e7 / COUNT(*) AS c
              |  FROM e, range(1, 65) t(i)
              |  WHERE vec_id % 2 = 0 GROUP BY 1, 2),
              |centv AS (SELECT cell, list(c ORDER BY dim) AS cv
              |          FROM cent GROUP BY 1),
              |centn AS (SELECT cell, cv, sqrt(${AnnOps.dotSql("cv", "cv")}) AS cn
              |          FROM centv),
              |scored AS (
              |  SELECT e.vec_id, c.cell,
              |    ${AnnOps.dotSql("e.v", "c.cv")} / (e.norm * c.cn) AS score
              |  FROM e CROSS JOIN centn c),
              |assigned AS (
              |  SELECT vec_id, cell,
              |    row_number() OVER (PARTITION BY vec_id
              |      ORDER BY score DESC, cell) AS rn
              |  FROM scored)
              |SELECT vec_id::BIGINT AS vec_id, cell::BIGINT AS cell,
              |  (vec_id % 2)::BIGINT AS batch_id
              |FROM assigned WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      doc = "Streaming gate: ANN-index worker drained over a 2-batch parity split; final cell assignments vs the replayed frozen-quantizer argmax",
      sort = Seq("vec_id")
    ),

    // ── The quantizer REFRESH under the oracle: same two-batch drain
    // (even-half bootstrap, frozen assignment of both halves), then
    // [[graft.streaming.AnnIngest.refit]] — re-fit the per-label
    // fixed-point mean over EVERYTHING ingested and reassign the whole
    // index against the new quantizer. The final cells therefore depend
    // only on the refit centroids, and the twin replays exactly that:
    // centroids over ALL vectors (no parity filter — the refresh's
    // whole point), argmax reassignment, original batch_id preserved
    // (provenance survives the rewrite). Gates the full refresh path
    // bit-exactly: fit-over-history, broadcast reassignment, and the
    // crash-safe keyed rewrite whose update-wins-tie replaces every
    // row's old image at its unchanged version. ──
    "ann_ingest_refit_state" -> Q(
      (s, d) => {
        val vecs = Tables.embeddings(s, d).filter(col("vec_id") < IdCap)
        val wh = driveTwoBatches(s, vecs, "vec_id",
          (b, id, w) => graft.streaming.AnnIngest.processBatch(b, id, w))
        graft.streaming.AnnIngest.refit(s, wh)
        result(s, s"$wh/ann_index")
          .select(col("vec_id").cast(LongType),
            col("cell").cast(LongType),
            col("batch_id").cast(LongType))
      },
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, v, ${AnnOps.normSql("v")} AS norm
              |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
              |        FROM embeddings WHERE vec_id < $IdCap)),
              |cent AS (
              |  SELECT label AS cell, i AS dim,
              |    CAST(SUM(CAST(round(v[i] * 1e7) AS BIGINT)) AS DOUBLE)
              |      / 1e7 / COUNT(*) AS c
              |  FROM e, range(1, 65) t(i)
              |  GROUP BY 1, 2),
              |centv AS (SELECT cell, list(c ORDER BY dim) AS cv
              |          FROM cent GROUP BY 1),
              |centn AS (SELECT cell, cv, sqrt(${AnnOps.dotSql("cv", "cv")}) AS cn
              |          FROM centv),
              |scored AS (
              |  SELECT e.vec_id, c.cell,
              |    ${AnnOps.dotSql("e.v", "c.cv")} / (e.norm * c.cn) AS score
              |  FROM e CROSS JOIN centn c),
              |assigned AS (
              |  SELECT vec_id, cell,
              |    row_number() OVER (PARTITION BY vec_id
              |      ORDER BY score DESC, cell) AS rn
              |  FROM scored)
              |SELECT vec_id::BIGINT AS vec_id, cell::BIGINT AS cell,
              |  (vec_id % 2)::BIGINT AS batch_id
              |FROM assigned WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      doc = "Streaming gate: quantizer refresh — refit over everything ingested, full reassignment; final cells vs the replayed re-fit argmax",
      sort = Seq("vec_id")
    ),

    // ── Embedding-cosine near-dup worker under the oracle — the
    // semantic sibling of `neardup_ingest_final_state`, with one extra
    // semantics under test: the occupancy MASK WIDENS between the two
    // batches (batch 0 sizes it to the even half, batch 1 to
    // survivors + the odd half — at every SF the count crosses a
    // power-of-two·occupancy boundary), and stored survivors re-mask
    // their FULL signatures at read time, the maintenance-free-index
    // contract. The twin replays batch by batch: per-batch mask from
    // the replayed corpus count, cell-collision edges verified by the
    // quantized cosine, recursive-closure clustering (exact fixpoint),
    // then the batch-1-winner × batch-0-survivor re-masked cell
    // collision + cosine verify. Returned `sig` pins the 16-bit
    // hyperplane signature computation cross-engine. ──
    "embed_ingest_final_state" -> Q(
      (s, d) => {
        val vecs = Tables.embeddings(s, d).filter(col("vec_id") < IdCap)
        val wh = driveTwoBatches(s, vecs, "vec_id",
          (b, id, w) => graft.streaming.EmbedIngest.processBatch(b, id, w))
        result(s, s"$wh/embed_survivors")
          .select(col("vec_id").cast(LongType),
            col("sig").cast(LongType),
            col("batch_id").cast(LongType))
      },
      Some {
        // per-batch clustering under that batch's mask: Hamming-1
        // MULTIPROBE cell-collision edges (the worker's admit
        // definition — the ordered side probes its own cell plus every
        // single-bit flip, matching a Hamming ≤ 1 pair exactly once)
        // at quantized cos ≥ 0.4 → symmetric closure → survivor = no
        // reachable vec with a lower id
        def batchCluster(p: Int, maskRel: String): String =
          s"""c$p AS (
             |  SELECT vec_id, v, norm, sig,
             |    CAST(sig & mask AS BIGINT) AS cell
             |  FROM b$p, $maskRel),
             |pr$p AS (
             |  SELECT vec_id, v, norm,
             |    unnest(${DedupOps.cellProbesSql}) AS probe FROM c$p),
             |edge$p AS (
             |  SELECT a.vec_id AS s, b.vec_id AS d
             |  FROM pr$p a JOIN c$p b
             |    ON a.probe = b.cell AND a.vec_id < b.vec_id
             |  WHERE CAST(round(${AnnOps.dotSql("a.v", "b.v")}
             |          / (a.norm * b.norm) * 1e6) AS BIGINT) / 1e6 >= 0.4),
             |sym$p AS (SELECT s, d FROM edge$p
             |          UNION ALL SELECT d, s FROM edge$p),
             |reach$p AS (
             |  SELECT s AS a, d AS b FROM sym$p
             |  UNION
             |  SELECT r.a, e2.d FROM reach$p r JOIN sym$p e2 ON e2.s = r.b),
             |win$p AS (
             |  SELECT c.vec_id, c.v, c.norm, c.sig, c.cell FROM c$p c
             |  LEFT JOIN (SELECT a, min(b) AS mb FROM reach$p GROUP BY 1) r
             |    ON r.a = c.vec_id
             |  WHERE coalesce(r.mb, c.vec_id) >= c.vec_id)""".stripMargin
        s"""WITH RECURSIVE e AS (
           |  SELECT vec_id, label, v, ${AnnOps.normSql("v")} AS norm
           |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
           |        FROM embeddings WHERE vec_id < $IdCap)),
           |${AnnOps.hyperplaneSigSqlCtes(DedupOps.CellMaxBits)},
           |b0 AS (SELECT vec_id, v, norm, sig FROM sigs WHERE vec_id % 2 = 0),
           |m0 AS (SELECT ${DedupOps.cellMaskSql} AS mask
           |       FROM (SELECT count(*) AS n FROM b0)),
           |${batchCluster(0, "m0")},
           |b1 AS (SELECT vec_id, v, norm, sig FROM sigs WHERE vec_id % 2 = 1),
           |m1 AS (SELECT ${DedupOps.cellMaskSql} AS mask FROM (
           |  SELECT (SELECT count(*) FROM win0)
           |       + (SELECT count(*) FROM b1) AS n)),
           |${batchCluster(1, "m1")},
           |dropX AS (
           |  SELECT DISTINCT w.vec_id
           |  FROM (SELECT vec_id, v, norm,
           |          unnest(${DedupOps.cellProbesSql}) AS probe FROM win1) w
           |  JOIN
           |    (SELECT s.vec_id, s.v, s.norm,
           |       CAST(s.sig & m1.mask AS BIGINT) AS cell
           |     FROM win0 s, m1) p
           |    ON w.probe = p.cell AND w.vec_id <> p.vec_id
           |  WHERE CAST(round(${AnnOps.dotSql("w.v", "p.v")}
           |          / (w.norm * p.norm) * 1e6) AS BIGINT) / 1e6 >= 0.4)
           |SELECT vec_id::BIGINT AS vec_id, sig::BIGINT AS sig,
           |  0::BIGINT AS batch_id FROM win0
           |UNION ALL
           |SELECT vec_id::BIGINT, sig::BIGINT, 1::BIGINT FROM win1
           |WHERE vec_id NOT IN (SELECT vec_id FROM dropX)
           |ORDER BY vec_id""".stripMargin
      },
      doc = "Streaming gate: embedding near-dup worker drained over a 2-batch parity split; final survivors vs a batch-by-batch replay with per-batch occupancy masks (the mask widens between batches)",
      sort = Seq("vec_id")
    ),

    // ── MULTI-SIGNAL worker under the oracle — the capstone gate: one
    // drain whose within-batch clusters close over the UNION of the
    // lexical (banded-LSH + exact Jaccard ≥ 0.8) and semantic
    // (occupancy-masked cells + quantized cosine ≥ 0.4) edge sets, and
    // whose corpus check drops a winner that matches an admitted
    // survivor through EITHER signal. The twin replays both batches
    // over the documents⋈embeddings subset: per-parity lexical bands
    // and Jaccard edges, per-parity masked cells and cosine edges
    // (batch-1 mask sized to batch-0 survivors + arrivals — the
    // widening contract), one recursive closure per batch over the
    // union, then the two corpus drops.
    //
    // This gate drains BOTH signal pipelines per micro-batch — it is
    // two workers' work in one drain (measured ~2× the single-signal
    // gates) — and every semantic it pins is id-count-independent, so
    // it runs at HALF the family's cap (the bounded-gate convention,
    // one step further). The mask still widens between batches
    // (250 → ~480 crosses the 2^3·32 boundary at every SF).
    //
    // This one gate drains through the REAL streaming harness
    // (readStream → AvailableNow → checkpoint, [[drainTwoBatches]]):
    // the worker family's most complex member keeps one full-harness
    // oracle row (the r10 replay fix lives exactly in the
    // harness/processBatch seam), alongside `dedup_ingest_survivors`.
    // Its bucketed twin below drives processBatch directly. ──
    "ms_ingest_final_state" -> Q(
      (s, d) => {
        val rows = Tables.documents(s, d)
          .join(Tables.embeddings(s, d).withColumnRenamed("vec_id", "doc_id"),
            "doc_id")
          .filter(col("doc_id") < IdCap / 2)
          .select(col("doc_id"), col("text"), col("embedding"))
        val wh = drainTwoBatches(s, "ms", rows, "doc_id",
          (sp, in, w, ck) => graft.streaming.MultiSignalIngest
            .start(sp, in, w, ck))
        result(s, s"$wh/ms_survivors")
          .select(col("doc_id").cast(LongType),
            col("batch_id").cast(LongType))
      },
      Some(msTwinSql(IdCap / 2)),
      doc = "Streaming gate: multi-signal worker drained through the REAL harness (readStream → AvailableNow → checkpoint) over a 2-batch parity split; final survivors vs a batch-by-batch replay closing the lexical + semantic edge union per batch, corpus drops through either signal",
      sort = Seq("doc_id")
    ),

    // ── The SAME multi-signal semantics through the BUCKETED state
    // tables ([[graft.sinks.UpsertWriter.upsertBucketed]] — the 100 TB
    // write form, where a batch's keyed merge rewrites touched hash
    // buckets instead of the whole survivors/index tables). The twin is
    // the identical replay at a smaller cap (the write LAYOUT is what
    // this row gates; the mask/cluster semantics are pinned at the
    // larger cap above): value-equality across layouts is the claim,
    // and the replay spec additionally crashes a bucketed drain
    // mid-window. Direct-driven (the harness row is above). ──
    "msb_ingest_bucketed_state" -> Q(
      (s, d) => {
        val rows = Tables.documents(s, d)
          .join(Tables.embeddings(s, d).withColumnRenamed("vec_id", "doc_id"),
            "doc_id")
          .filter(col("doc_id") < IdCap / 4)
          .select(col("doc_id"), col("text"), col("embedding"))
        val wh = driveTwoBatches(s, rows, "doc_id",
          (b, id, w) => graft.streaming.MultiSignalIngest.processBatch(
            b, id, w, stateBuckets = Some(8)))
        result(s, s"$wh/ms_survivors")
          .select(col("doc_id").cast(LongType),
            col("batch_id").cast(LongType))
      },
      Some(msTwinSql(IdCap / 4)),
      doc = "Streaming gate: multi-signal worker with hash-bucketed state tables (touched-bucket-only merges); final survivors vs the same batch-by-batch replay — layout must not change semantics",
      sort = Seq("doc_id")
    ),

    // ── The STATE-TABLE LIFECYCLE under the oracle (r13 verdict
    // directive 5): one bucketed drain whose mid-stream window runs
    // the full maintenance interplay a long-lived production table
    // sees — (1) batch 0 REPLAYS wholesale (crash before the
    // checkpoint commit: the delta appends replace themselves by
    // tag); (2) a TAKEDOWN deletes a keyed subset from survivors AND
    // the lexical index (row-grain deleteWhere under the maintenance
    // lease); (3) the survivors table REBUCKETS 8 → 16 (the pin moves;
    // the live worker's config still says 8 and follows the pin); (4)
    // batch 0 replays AGAIN — the folded-tag records now make every
    // state append a no-op, so the takedown SURVIVES re-delivery; then
    // batch 1 drains against the reduced corpus. The twin replays the
    // same semantics: batch-0 winners minus the takedown set feed the
    // cross-batch drop checks and the final state, the occupancy mask
    // still sizes from the journal's cumulative count (a takedown
    // never rewrites the log), and a removed doc's new near-dup in
    // batch 1 is ADMITTED — deleted, not shadow-banned. ──
    "msb_ingest_takedown_rebucket" -> Q(
      (s, d) => {
        val rows = Tables.documents(s, d)
          .join(Tables.embeddings(s, d).withColumnRenamed("vec_id", "doc_id"),
            "doc_id")
          .filter(col("doc_id") < IdCap / 4)
          .select(col("doc_id"), col("text"), col("embedding"))
        def b0(cached: DataFrame, w: String): Unit =
          graft.streaming.MultiSignalIngest.processBatch(
            cached.filter(col("doc_id") % 2 === 0), 0L, w,
            stateBuckets = Some(8))
        val wh = driveTwoBatches(s, rows, "doc_id",
          (b, id, w) => graft.streaming.MultiSignalIngest.processBatch(
            b, id, w, stateBuckets = Some(8)),
          mid = (w, cached) => {
            b0(cached, w) // replay: appends replace themselves by tag
            graft.streaming.MultiSignalIngest.takedown(
              s, w, col("doc_id") % 10 === 2)
            graft.sinks.UpsertWriter.rebucket(
              s, s"$w/ms_survivors", keys = Seq("doc_id"), newBuckets = 16)
            b0(cached, w) // replay AFTER maintenance: folded-tag no-op
          })
        assert(graft.sinks.UpsertWriter
          .pinnedBuckets(s"$wh/ms_survivors").contains(16),
          "rebucket must move the survivors pin to 16")
        result(s, s"$wh/ms_survivors")
          .select(col("doc_id").cast(LongType),
            col("batch_id").cast(LongType))
      },
      Some(msTwinSql(IdCap / 4, takedownSql = Some("doc_id % 10 = 2"))),
      doc = "Streaming gate: the full state-table lifecycle mid-drain — batch-0 replay, keyed takedown (deleteWhere on survivors + index), survivors rebucket 8->16 under a live worker config, post-maintenance replay as a folded-tag no-op — final state vs the replay excluding the taken-down docs",
      sort = Seq("doc_id")
    )
  )

  /** The multi-signal gate's DuckDB replay, parameterized by the doc-id
    * cap: per-parity lexical bands + Jaccard edges, per-parity masked
    * cells + multiprobe cosine edges, one recursive closure per batch
    * over the union, then the two corpus drops. Shared by the plain
    * (harness-drained), bucketed, and takedown gate rows.
    *
    * `takedownSql`: a predicate over batch-0 winners removed from the
    * corpus BETWEEN the batches (the takedown gate). The removed docs
    * leave the corpus-side of both cross-batch drop checks and the
    * final state; the occupancy mask does NOT shrink — the worker
    * sizes it from the admission log's cumulative count, which a
    * takedown (a journal-preserving maintenance op) never rewrites. */
  private def msTwinSql(
      cap: Long, takedownSql: Option[String] = None): String = {
    // corpus relation the cross-batch checks and the final state read:
    // win0 minus the takedown set when one applies
    val corpusRel = if (takedownSql.isDefined) "win0k" else "win0"
    val takedownCte = takedownSql
      .map(p => s"win0k AS (SELECT * FROM win0 WHERE NOT ($p)),\n")
      .getOrElse("")
        val baseDocs =
          s"""(SELECT d.doc_id, d.text FROM documents d
             | JOIN embeddings em ON em.vec_id = d.doc_id
             | WHERE d.doc_id < $cap)""".stripMargin
        val jac =
          """len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
            |        / len(list_distinct(sa.shingles || sb.shingles))""".stripMargin
        def cos(a: String, b: String, na: String, nb: String) =
          s"""CAST(round(${AnnOps.dotSql(a, b)}
             |        / ($na * $nb) * 1e6) AS BIGINT) / 1e6""".stripMargin
        // per-parity: lexical + semantic edges → union closure → winners
        def batchCluster(p: Int, maskRel: String): String =
          s"""candL$p AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bands y
             |    ON x.band = y.band AND x.sigstr = y.sigstr
             |   AND x.doc_id < y.doc_id
             |  WHERE x.doc_id % 2 = $p AND y.doc_id % 2 = $p),
             |ledge$p AS (
             |  SELECT a, b FROM (
             |    SELECT c.a, c.b, $jac AS j
             |    FROM candL$p c JOIN sh sa ON sa.doc_id = c.a
             |                   JOIN sh sb ON sb.doc_id = c.b)
             |  WHERE j >= 0.8),
             |c$p AS (
             |  SELECT vec_id, v, norm, sig, CAST(sig & mask AS BIGINT) AS cell
             |  FROM sigs, $maskRel WHERE vec_id % 2 = $p),
             |pr$p AS (
             |  SELECT vec_id, v, norm,
             |    unnest(${DedupOps.cellProbesSql}) AS probe FROM c$p),
             |sedge$p AS (
             |  SELECT a.vec_id AS a, b.vec_id AS b
             |  FROM pr$p a JOIN c$p b
             |    ON a.probe = b.cell AND a.vec_id < b.vec_id
             |  WHERE ${cos("a.v", "b.v", "a.norm", "b.norm")} >= 0.4),
             |sym$p AS (
             |  SELECT a AS s, b AS d FROM ledge$p
             |  UNION ALL SELECT b, a FROM ledge$p
             |  UNION ALL SELECT a, b FROM sedge$p
             |  UNION ALL SELECT b, a FROM sedge$p),
             |reach$p AS (
             |  SELECT s AS a, d AS b FROM sym$p
             |  UNION
             |  SELECT r.a, e2.d FROM reach$p r JOIN sym$p e2 ON e2.s = r.b),
             |win$p AS (
             |  SELECT c.vec_id AS doc_id, c.v, c.norm, c.sig, c.cell
             |  FROM c$p c
             |  LEFT JOIN (SELECT a, min(b) AS mb FROM reach$p GROUP BY 1) r
             |    ON r.a = c.vec_id
             |  WHERE coalesce(r.mb, c.vec_id) >= c.vec_id)""".stripMargin
        s"""WITH RECURSIVE sh AS (${DedupOps.shingledSqlFrom(3, baseDocs)}),
           |${DedupOps.bandSigsSql(32, 4)},
           |e AS (
           |  SELECT d.doc_id AS vec_id, em.label, v, ${AnnOps.normSql("v")} AS norm
           |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
           |        FROM embeddings) em
           |  JOIN documents d ON d.doc_id = em.vec_id
           |  WHERE d.doc_id < $cap),
           |${AnnOps.hyperplaneSigSqlCtes(DedupOps.CellMaxBits)},
           |m0 AS (SELECT ${DedupOps.cellMaskSql} AS mask
           |       FROM (SELECT count(*) AS n FROM sigs WHERE vec_id % 2 = 0)),
           |${batchCluster(0, "m0")},
           |${takedownCte}m1 AS (SELECT ${DedupOps.cellMaskSql} AS mask FROM (
           |  SELECT (SELECT count(*) FROM win0)
           |       + (SELECT count(*) FROM sigs WHERE vec_id % 2 = 1) AS n)),
           |${batchCluster(1, "m1")},
           |candXL AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.sigstr = y.sigstr
           |  JOIN win1 w1 ON w1.doc_id = x.doc_id
           |  JOIN $corpusRel w0 ON w0.doc_id = y.doc_id),
           |dropL AS (
           |  SELECT DISTINCT c.a AS doc_id
           |  FROM candXL c JOIN sh sa ON sa.doc_id = c.a
           |               JOIN sh sb ON sb.doc_id = c.b
           |  WHERE $jac >= 0.8),
           |dropS AS (
           |  SELECT DISTINCT w.doc_id
           |  FROM (SELECT doc_id, v, norm,
           |          unnest(${DedupOps.cellProbesSql}) AS probe FROM win1) w
           |  JOIN
           |    (SELECT s0.doc_id, s0.v, s0.norm,
           |       CAST(s0.sig & m1.mask AS BIGINT) AS cell
           |     FROM $corpusRel s0, m1) p
           |    ON w.probe = p.cell AND w.doc_id <> p.doc_id
           |  WHERE ${cos("w.v", "p.v", "w.norm", "p.norm")} >= 0.4)
           |SELECT doc_id::BIGINT AS doc_id, 0::BIGINT AS batch_id FROM $corpusRel
           |UNION ALL
           |SELECT doc_id::BIGINT, 1::BIGINT FROM win1
           |WHERE doc_id NOT IN (SELECT doc_id FROM dropL
           |                     UNION SELECT doc_id FROM dropS)
           |ORDER BY doc_id""".stripMargin
  }
}
