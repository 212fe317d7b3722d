package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import java.nio.file.Files

/** Strict `events.ts` schema dispatch (ADVICE r9): the loader must only
  * apply a scale-changing transform when the parquet footer proves the
  * encoding, and must THROW on anything unrecognized instead of silently
  * coercing (a permissive cast turns a StringType ts into nulls; a blind
  * `DIV 1000` turns epoch-micros into 1970).
  */
class TablesSpec extends SparkSpec {

  private def freshDir(): String = {
    val d = Files.createTempDirectory("tables-spec").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("TIMESTAMP(MICROS, NTZ) loads as TimestampType with identical instants") {
    val dir = freshDir()
    import spark.implicits._
    val df = Seq((1L, "2024-03-01 12:34:56.789012"), (2L, "1999-12-31 23:59:59.999999"))
      .toDF("event_id", "s")
      .withColumn("ts", to_timestamp_ntz(col("s")))
      .drop("s")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val loaded = Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.orderBy("event_id")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].collect().toSeq
    assert(got == Seq("2024-03-01 12:34:56.789012", "1999-12-31 23:59:59.999999"))
    Tables.invalidate()
  }

  test("plain INT64 ts (no timestamp annotation) fails loudly, not scaled") {
    val dir = freshDir()
    import spark.implicits._
    // epoch-MICROS stored as a bare long: the nanos branch would divide by
    // 1000 and land in 1970; strict dispatch must refuse instead.
    Seq((1L, 1709294096789012L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ex = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(ex.getMessage.contains("unsupported encoding") ||
      ex.getMessage.contains("refusing"), ex.getMessage)
    Tables.invalidate()
  }

  test("string ts fails loudly instead of null-coercing") {
    val dir = freshDir()
    import spark.implicits._
    Seq((1L, "2024-03-01 12:34:56")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ex = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(ex.getMessage.contains("unsupported encoding"), ex.getMessage)
    Tables.invalidate()
  }

  test("the driver testdata generation still loads") {
    val loaded = Tables.events(spark, "/root/testdata/sf0.001")
    assert(loaded.schema("ts").dataType == TimestampType)
    assert(loaded.limit(1).count() == 1)
  }

  test("SparkEntry.entry returns rows on a session built without graft configs") {
    // the way a generic driver calls it: a fresh session carrying none of
    // GraftSession's confs (builder-level ones unset too) and no graft
    // functions, so entry() must configure everything it needs itself
    val bare = spark.newSession()
    Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.shuffle.partitions").foreach(bare.conf.unset)
    assert(SparkEntry.entry(bare).count() > 0)
  }

  test("RowCounts: footer metadata agrees with a scan count, at every plan shape") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // bare scan: the footer fast path must equal the scan-job answer
    assert(graft.core.RowCounts.of(emb) === emb.count())
    // attribute-only projection is row-count-neutral (still fast path)
    assert(graft.core.RowCounts.of(emb.select("vec_id")) === emb.count())
    // a filter DISQUALIFIES the fast path; of() must fall back and stay exact
    val filtered = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
    assert(graft.core.RowCounts.of(filtered) === filtered.count())
    // non-parquet plans (local relations) fall back too
    import spark.implicits._
    assert(graft.core.RowCounts.of(Seq(1, 2, 3).toDF("x")) === 3L)
  }
}
