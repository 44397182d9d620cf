package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` memoizes each input's inferred schema. The memo must
  * be invisible: the same schema a bare read infers, a rewrite seen on
  * the next load, per-session inference confs honored, and failures
  * raised exactly as Spark raises them.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  test("load returns the schema a bare parquet read infers, every table") {
    Tables.names.foreach { n =>
      val bare = spark.read.parquet(s"$sf/$n.parquet").schema
      // twice: the first load infers, the second reads the memo
      assert(Tables.load(spark, sf, n).schema === bare, n)
      assert(Tables.load(spark, sf, n).schema === bare, n)
    }
  }

  test("a table rewritten at the same path is seen on the next load") {
    val dir = Staging.dir("graft_tablesspec_")
    spark.range(3).toDF("a")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
    spark.range(5).select(col("id").as("a"), col("id").cast("string").as("b"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(again.columns.toSeq === Seq("a", "b"))
    assert(again.count() === 5L)
  }

  /** A one-row parquet file whose `ts` is TIMESTAMP(NANOS) — the
    * encoding `nanosAsLong` governs. Spark cannot write it, so the
    * parquet-mr example writer does.
    */
  private def nanosTable(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1706650000123456789L))
    finally w.close()
  }

  test("a session with a different nanosAsLong gets its own schema") {
    val dir = Staging.dir("graft_tablesspec_nanos_")
    nanosTable(dir)
    val parent = Tables.load(spark, dir, "t").schema
    assert(parent("ts").dataType === org.apache.spark.sql.types.LongType)
    val child = spark.newSession()
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val expected =
      scala.util.Try(child.read.parquet(s"$dir/t.parquet").schema)
    val got = scala.util.Try(Tables.load(child, dir, "t").schema)
    // whatever the child session's own inference yields — a schema or
    // an error — the memoized loader yields the same, never the parent's
    assert(got.toOption === expected.toOption)
    assert(got.failed.toOption.map(_.getClass) ===
      expected.failed.toOption.map(_.getClass))
    assert(!got.toOption.contains(parent))
    assert(Tables.load(spark, dir, "t").schema === parent)
  }

  test("a missing path raises Spark's own error; a later load succeeds") {
    val dir = Staging.dir("graft_tablesspec_missing_")
    val bare = intercept[AnalysisException](
      spark.read.parquet(s"$dir/t.parquet"))
    val viaLoad = intercept[AnalysisException](Tables.load(spark, dir, "t"))
    assert(viaLoad.getCondition === "PATH_NOT_FOUND")
    assert(viaLoad.getCondition === bare.getCondition)
    assert(viaLoad.getMessage === bare.getMessage)
    spark.range(4).toDF("a").write.parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq === Seq("a"))
    assert(df.count() === 4L)
  }
}
