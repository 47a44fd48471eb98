package graft.tools

/** What the CLI tools measure against and with, as the bench reads
  * them: the fixture dir and the local core count. Their session is
  * [[graft.Sessions.local]] over [[cpus]]. */
private[tools] object LocalTool {
  /** Fixture dir the tool should measure against (bench default). */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
}
