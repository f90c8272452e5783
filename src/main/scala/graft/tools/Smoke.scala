package graft.tools

import graft.SparkEntry
import graft.engine.Engine
import graft.sources.ParquetDirCatalog

/** End-to-end smoke: drives the public surfaces (entry(), Engine.executeJson
  * incl. the error contract) against sf0.001. Run:
  *   sbt "runMain graft.tools.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // 1. flagship entry smoke (the driver's rows>0 check)
    val n = SparkEntry.entry(spark).count()
    println(s"SMOKE entry rows=$n")

    // 2. Engine JSON surface: timeseries in, Druid-shaped JSON out
    val engine = new Engine(spark, new ParquetDirCatalog("/root/testdata/sf0.001"))
    val tsJson =
      """{"queryType":"timeseries","dataSource":"events",
        |"intervals":["2024-01-01T00:00:00Z/2024-01-04T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"count","name":"cnt"},
        |  {"type":"doubleSum","name":"sum_val","fieldName":"value"}],
        |"postAggregations":[{"type":"arithmetic","name":"avg","fn":"/","fields":[
        |  {"type":"fieldAccess","fieldName":"sum_val"},
        |  {"type":"fieldAccess","fieldName":"cnt"}]}]}""".stripMargin
    println("SMOKE timeseries json: " + engine.executeJson(tsJson))

    // 3. topN JSON shape
    val topnJson =
      """{"queryType":"topN","dataSource":"events",
        |"intervals":["2024-01-01T00:00:00Z/2024-01-08T00:00:00Z"],
        |"granularity":"all","dimension":"event_type","threshold":2,"metric":"cnt",
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
    println("SMOKE topN json: " + engine.executeJson(topnJson))

    // 4. error contract: unknown query type
    try engine.executeJson("""{"queryType":"nope","dataSource":"events","intervals":["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"]}""")
    catch { case e: Engine.QueryError => println("SMOKE error json: " + e.toJson) }

    // 5. error contract: missing datasource file
    try engine.executeJson("""{"queryType":"timeBoundary","dataSource":"no_such_table"}""")
    catch { case e: Engine.QueryError => println("SMOKE error json2: " + e.toJson) }

    spark.stop()
  }
}
