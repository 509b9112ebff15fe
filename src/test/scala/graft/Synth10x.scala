package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Throwaway 10x corpus synth for SURVEY §8 sweeps — run manually:
  * `sbt "Test/runMain graft.Synth10x"`, then point Bench at the dir via
  * `SPARK_GRAFT_SF_DIR=/tmp/graft10x_b`.
  *
  * Same methodology as the earlier sweeps: 10 id-offset copies of the
  * sf0.1 tables (uniform keys; the Zipf variant's findings are in
  * SURVEY.md "Skew-stress sweep (round 7)").
  * Offsets are per-table id columns only — categorical/metric columns
  * repeat, so grids (priorities, months, suppliers, bins) keep their
  * cardinality and per-grid-cell mass grows 10x, which is exactly the
  * 100 TB shape for the profile/eval tier. */
object Synth10x {
  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val out = if (args.nonEmpty) args(0) else "/tmp/graft10x_b"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val reps = spark.range(10).select(col("id").as("__r"))

    def rep10(name: String, shifts: Map[String, Long]): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      val shifted = df.crossJoin(reps).select(df.columns.map { c =>
        shifts.get(c) match {
          case Some(off) => (col(c) + col("__r") * off).as(c)
          case None => col(c)
        }
      }: _*)
      shifted.coalesce(16).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"SYNTH $name rows=${spark.read.parquet(s"$out/$name.parquet").count()}")
    }

    def copy1(name: String): Unit = {
      spark.read.parquet(s"$src/$name.parquet")
        .coalesce(4).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"SYNTH $name copied 1x (dimension)")
    }

    rep10("documents", Map("doc_id" -> 10000000L))
    rep10("orders", Map("o_orderkey" -> 1000000000L))
    rep10("lineitem", Map("l_orderkey" -> 1000000000L))
    rep10("customer", Map("c_custkey" -> 100000000L))
    // events.ts is INT64 nanos under nanosAsLong; copied verbatim it stays
    // nanos, and Tables.events re-derives the timestamp on read
    rep10("events", Map("event_id" -> 10000000000L, "user_id" -> 100000000L))
    rep10("embeddings", Map("vec_id" -> 10000000L))
    // dimensions ride at 1x (the realistic shape: facts grow, dims don't);
    // fact FKs keep pointing at the original key ranges
    Seq("region", "nation", "supplier", "part").foreach(copy1)
    spark.stop()
  }
}
