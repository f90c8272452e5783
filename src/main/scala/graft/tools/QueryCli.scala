package graft.tools

import graft.engine.Engine
import graft.sources.ParquetDirCatalog

/** Standalone query endpoint — the CLI equivalent of the reference's
  * `POST /druid/v2` (JSON query on stdin or argv, Druid-shaped JSON result
  * on stdout; errors as the documented error JSON on stderr, exit 1).
  *
  *   echo '{"queryType":"timeBoundary","dataSource":"events"}' | \
  *     sbt "runMain graft.tools.QueryCli /root/testdata/sf0.001"
  */
object QueryCli {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val json =
      if (args.length > 1) args(1)
      else scala.io.Source.stdin.mkString
    val spark = Sessions.builder(
      sys.env.getOrElse("SPARK_MASTER", "local[8]"), 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new Engine(spark, new ParquetDirCatalog(dir))
    try println(engine.executeJson(json))
    catch {
      case e: Engine.QueryError =>
        System.err.println(e.toJson)
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
