package perfbench

import java.nio.file.Paths

import graft.gold.Gold
import graft.sink.MorLog
import graft.sources.CsvIngest

/** Class-archive training run, made once per build: touches every
  * engine path the workloads use, on tiny inputs, so that the JVM's
  * class-data-sharing archive holds their classes and each benchmark
  * run starts without loading them from the jars again. Measures
  * nothing. Usage: `Warm <work dir>`. */
object Warm {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = graft.GraftSession.builder()
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val feed = new BookingFeed(1, 500, 10)
    Fact.writeBase(Paths.get(work, "base"), feed.base, 2)
    val fact = s"$work/fact"
    MorLog.create(spark.read.schema(Fact.schema).json(s"$work/base"), fact)
    Fact.writeFeedFile(Paths.get(work, "landing", "feed-0.json"), feed.epoch(50), System.currentTimeMillis())
    Fact.startDrain(spark, s"$work/landing", fact, s"$work/ckpt").awaitTermination()
    Fact.digest(MorLog.read(spark, fact))
    val customers = new CustomerFeed(1, 100)
    val dim = s"$work/tables/dim/customer"
    val schema = CsvIngest.customerDimSchema
    DimMerge.writeCsv(Paths.get(work, "dim-csv", "base.csv"), customers.base)
    MorLog.create(CsvIngest.castTo(CsvIngest.readRaw(spark, s"$work/dim-csv", schema), schema), dim)
    Gold.refreshAggregation(DimMerge.gold(MorLog.read(spark, fact), MorLog.read(spark, dim)), s"$work/gold")
    spark.conf.set("spark.sql.catalog.warm", "graft.sources.MorLogCatalog")
    spark.conf.set("spark.sql.catalog.warm.root", s"$work/tables")
    val csv = Paths.get(work, "landing-csv", "c.csv")
    DimMerge.writeCsv(csv, customers.file(30))
    CsvIngest.castTo(CsvIngest.readRaw(spark, csv.toString, schema), schema).createOrReplaceTempView("warm_src")
    spark.sql("MERGE INTO warm.dim.customer AS t USING warm_src AS s ON t.c_custkey = s.c_custkey " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    spark.sql("CALL warm.system.compact_small('dim.customer')").collect()
    spark.sql("CALL warm.system.vacuum('dim.customer', 2)").collect()
    DimMerge.digest(MorLog.read(spark, dim))
    Fact.referenceBytes(spark, feed.base, s"$work/ref")
    spark.stop()
  }
}
