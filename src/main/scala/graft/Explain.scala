package graft
// Plan-audit harness: prints the formatted physical plan of selected
// queries so join strategies / pushdown / codegen spans can be reviewed.
import scala.util.control.NonFatal

object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.sources.Sessions.local("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case NonFatal(e) => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
