package graft

import graft.sinks.TableLease
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The second process of [[LeaseCrossProcessSpec]]: a plain JVM (no
  * Spark) running [[TableLease]] against the parent's table.
  *
  *  - `hold <table> <Drain|Maintenance> <readyFile>`: open the window,
  *    write the holder name to `readyFile`, print `ready`, and block
  *    until killed;
  *  - `try <table> <Drain|Maintenance>`: acquire once, print `acquired`
  *    or `refused: <message>`, and exit (the window frees on exit).
  */
object LeaseHolderMain {
  def main(args: Array[String]): Unit = {
    val kind = if (args(2) == "Drain") TableLease.Drain else TableLease.Maintenance
    val holder = s"child:pid${ProcessHandle.current().pid()}"
    args(0) match {
      case "hold" =>
        TableLease.acquire(args(1), kind, holder)
        Files.write(Paths.get(args(3)), holder.getBytes(UTF_8))
        println("ready")
        System.out.flush()
        new java.util.concurrent.CountDownLatch(1).await()
      case "try" =>
        val outcome =
          try { TableLease.acquire(args(1), kind, holder); "acquired" }
          catch { case e: IllegalStateException => s"refused: ${e.getMessage}" }
        println(outcome)
        System.out.flush()
    }
  }
}
