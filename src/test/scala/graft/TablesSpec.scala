package graft

import graft.SparkTestSession.{sf, spark, withConf, withTempDir}
import graft.metrics.StageMetricsListener
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The footer-schema cache behind `Tables.t`: a cached read plans exactly
  * as a bare `spark.read.parquet`, launches no schema-inference job once
  * warm, and re-infers whenever the files or the parquet confs change.
  */
class TablesSpec extends AnyFunSuite {

  /** `body`'s result and the schema-inference jobs (stages named
    * `parquet at …`) it launched. Only those count: the listener bus also
    * delivers stages of jobs that other code still has running.
    */
  private def inferenceJobs[T](body: => T): (T, Int) = {
    val l = new StageMetricsListener
    val r = l.collect(spark)(body)
    (r, l.spans.filter(_.name.startsWith("parquet at ")).map(_.jobId).distinct.size)
  }

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  test("a cached read of every sf0.001 table has the bare read's schema and plan") {
    val names = new java.io.File(sf).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(names.size == 10)
    for (name <- names) {
      Tables.t(spark, sf, name)
      val (cached, n) = inferenceJobs(Tables.t(spark, sf, name))
      assert(n == 0, s"$name: a warm read launched $n schema-inference jobs")
      val bare = spark.read.parquet(s"$sf/$name.parquet")
      assert(cached.schema == bare.schema, name)
      assert(cached.queryExecution.optimizedPlan.canonicalized ==
        bare.queryExecution.optimizedPlan.canonicalized, name)
    }
  }

  test("the first read of a table infers its schema with one job; the second runs none") {
    withTempDir("tables-spec") { tmp =>
      val dir = tmp.toString
      write(spark.range(100).selectExpr("id", "cast(id as string) as s"), dir, "t")
      val (first, n1) = inferenceJobs(Tables.t(spark, dir, "t"))
      val (second, n2) = inferenceJobs(Tables.t(spark, dir, "t"))
      assert((n1, n2) == (1, 0))
      assert(second.schema == first.schema)
      assert(second.count() == 100)
    }
  }

  test("rewriting a path with another schema returns the new schema") {
    withTempDir("tables-spec") { tmp =>
      val dir = tmp.toString
      write(spark.range(10).selectExpr("cast(id as int) as a", "'x' as b"), dir, "t")
      assert(Tables.t(spark, dir, "t").schema.map(_.dataType) == Seq(IntegerType, StringType))
      // an added column and a changed type
      write(spark.range(10).selectExpr("id as a", "'x' as b", "0.5d as c"), dir, "t")
      val df = Tables.t(spark, dir, "t")
      assert(df.schema.map(f => f.name -> f.dataType) ==
        Seq("a" -> LongType, "b" -> StringType, "c" -> DoubleType))
      assert(df.filter("c = 0.5").count() == 10)
    }
  }

  test("the parquet confs are part of the key: nanosAsLong and inferTimestampNTZ") {
    // a TIMESTAMP(NANOS) column, the older events fixtures' form, which
    // Spark cannot write itself
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    withTempDir("tables-spec") { tmp =>
      val dir = tmp.toString
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
      finally w.close()
      val nanos = "spark.sql.legacy.parquet.nanosAsLong"
      withConf(nanos, "true") {
        assert(Tables.t(spark, dir, "events").schema("ts").dataType == LongType)
        assert(Tables.t(spark, dir, "events").schema("ts").dataType == LongType)
      }
      withConf(nanos, "false") {
        // without the flag Spark refuses the type rather than reusing LongType
        val e = intercept[AnalysisException](Tables.t(spark, dir, "events"))
        assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
      }
      withConf(nanos, "true") {
        assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
        assert(Tables.events(spark, dir).head().getTimestamp(0).getTime == 1700000000123L)
      }
      // the fixture's TIMESTAMP(MICROS) NTZ column under both NTZ inferences
      val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
      withConf(ntz, "true") {
        assert(Tables.t(spark, sf, "events").schema("ts").dataType == TimestampNTZType)
      }
      withConf(ntz, "false") {
        assert(Tables.t(spark, sf, "events").schema("ts").dataType == TimestampType)
      }
    }
  }

  test("a missing path raises Spark's PATH_NOT_FOUND, cached or not") {
    withTempDir("tables-spec") { tmp =>
      val dir = tmp.toString
      val e1 = intercept[AnalysisException](Tables.t(spark, dir, "absent"))
      assert(e1.getCondition == "PATH_NOT_FOUND")
      write(spark.range(3).toDF("a"), dir, "gone")
      assert(Tables.t(spark, dir, "gone").count() == 3)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/gone.parquet"))
      val e2 = intercept[AnalysisException](Tables.t(spark, dir, "gone"))
      assert(e2.getCondition == "PATH_NOT_FOUND")
    }
  }

  test("the cache holds one entry per table path across rewrites and conf changes") {
    withTempDir("tables-spec") { tmp =>
      val dir = tmp.toString
      val path = s"$dir/t.parquet"
      val before = Tables.cachedPaths.size
      for (i <- 1 to 3) {
        write(spark.range(i).selectExpr(Seq("id") ++ (1 to i).map(c => s"id as c$c"): _*), dir, "t")
        assert(Tables.t(spark, dir, "t").columns.length == i + 1)
        withConf("spark.sql.parquet.binaryAsString", (i % 2 == 0).toString) {
          Tables.t(spark, dir, "t")
        }
      }
      assert(Tables.cachedPaths.contains(path))
      assert(Tables.cachedPaths.size == before + 1)
    }
  }
}
