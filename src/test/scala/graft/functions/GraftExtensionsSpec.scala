package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  /** Runs `body` on a new session (same SparkContext) built with
    * GraftExtensions. getOrCreate returns the default session and ignores
    * withExtensions, so the defaults are cleared first, then restored.
    */
  private def withExtensionSession(body: SparkSession => Unit): Unit = {
    val prev = graft.SparkTestSession.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate())
    finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("cosine_similarity is available via SparkSessionExtensions injection") {
    withExtensionSession { ext =>
      val r = ext.sql(
        "select cosine_similarity(array(cast(3.0 as float)), array(cast(7.0 as float))) as c")
        .head().getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
      // and it composes with real data through the extension-built session
      val e = graft.Tables.embeddings(ext, graft.SparkTestSession.sf).limit(3)
      e.createOrReplaceTempView("emb3")
      val self = ext.sql(
        "select cosine_similarity(embedding, embedding) as c from emb3").collect()
      self.foreach(row => assert(math.abs(row.getDouble(0) - 1.0) < 1e-9))
      // the whole native-function family rides the same injection
      val d2 = ext.sql(
        "select l2_distance_sq(embedding, embedding) as d from emb3").collect()
      d2.foreach(row => assert(row.getDouble(0) == 0.0))
    }
  }

  test("the extension-built session resolves every registered SQL function") {
    // one minimal query per name in the function table, and its answer
    def call(name: String): (String, Any) = name match {
      case "cosine_similarity" =>
        "select cosine_similarity(array(cast(3.0 as float)), array(cast(7.0 as float)))" -> 1.0
      case "dot_product" => "select dot_product(array(2.0d), array(3.0d))" -> 6.0
      case "l2_distance_sq" => "select l2_distance_sq(array(2.0d), array(5.0d))" -> 9.0
      case "winnow_fps" => "select size(winnow_fps('abcdefgh', 3, 2)) > 0" -> true
      case "reservoir_sample" => "select size(reservoir_sample(id, 2)) from range(5)" -> 2
      case "nfc_normalize" => "select nfc_normalize('e\u0301')" -> "\u00e9"
      case "bloom_filter_agg" =>
        "select bloom_filter_agg(id, 10L, 100L) is not null from range(10)" -> true
      case "might_contain" =>
        "select might_contain((select bloom_filter_agg(id, 10L, 100L) from range(10)), 5L)" -> true
      case other => fail(s"no minimal call for $other")
    }
    withExtensionSession { ext =>
      SqlRegistry.functions.map(_._1).foreach { name =>
        val (sql, want) = call(name)
        assert(ext.sql(sql).head().get(0) == want, s"$name: $sql")
      }
    }
  }

  test("winnow_fps rejects non-literal k/w with a clear analysis error") {
    val spark = graft.SparkTestSession.spark
    WinnowFingerprints.register(spark)
    graft.Tables.documents(spark, graft.SparkTestSession.sf).limit(5)
      .createOrReplaceTempView("docs_lit")
    val colK = intercept[Exception] {
      spark.sql("select winnow_fps(text, cast(doc_id as int), 4) from docs_lit").collect()
    }
    assert(colK.getMessage.contains("k must be an integer literal"))
    val strW = intercept[Exception] {
      spark.sql("select winnow_fps(text, 5, 'wide') from docs_lit").collect()
    }
    assert(strW.getMessage.contains("w must be an integer literal"))
    // fractional literals must fail loudly, not silently truncate 5.7 → 5
    val fracK = intercept[Exception] {
      spark.sql("select winnow_fps(text, 5.7, 4) from docs_lit").collect()
    }
    assert(fracK.getMessage.contains("k must be an integer literal"))
    val dblW = intercept[Exception] {
      spark.sql("select winnow_fps(text, 5, double(4.0)) from docs_lit").collect()
    }
    assert(dblW.getMessage.contains("w must be an integer literal"))
    // foldable literals still work, including arithmetic that folds
    assert(spark.sql("select winnow_fps(text, 5, 2 + 2) from docs_lit").count() == 5)
  }

  test("reservoir_sample rejects non-literal n/seed with a clear analysis error") {
    val spark = graft.SparkTestSession.spark
    ReservoirSample.register(spark)
    val bad = intercept[Exception] {
      spark.range(10).selectExpr("reservoir_sample(id, id)").collect()
    }
    assert(bad.getMessage.contains("n must be an integer literal"))
    val badSeed = intercept[Exception] {
      spark.range(10).selectExpr("reservoir_sample(id, 4, rand())").collect()
    }
    assert(badSeed.getMessage.contains("seed must be an integer literal"))
    assert(spark.range(10).selectExpr("reservoir_sample(id, 4, 7)").count() == 1)
  }
}
