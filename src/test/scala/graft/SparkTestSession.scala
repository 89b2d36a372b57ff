package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one session per suite;
  * sbt forks a single test JVM, so share across suites too).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with `spark.sql.autoBroadcastJoinThreshold` at `bytes`,
    * then restore the previous value (unset stays unset). -1 forces every
    * size-gated choice onto its distributed path, e.g. the CC star rounds.
    */
  def withBroadcastThreshold[T](bytes: Long)(body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", bytes.toString)(body)

  /** Run `body` on a fresh dir named `prefix…` in `java.io.tmpdir`, then
    * delete the dir recursively, whether `body` returns or throws.
    */
  def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** The two evaluation paths of a native expression: interpreted
    * `nullSafeEval` (NO_CODEGEN, whole-stage codegen off) and `doGenCode`
    * inside whole-stage codegen (CODEGEN_ONLY). Pairs of factory mode and
    * whole-stage flag, for [[withCodegenMode]].
    */
  val codegenModes: Seq[(String, Boolean)] = Seq("NO_CODEGEN" -> false, "CODEGEN_ONLY" -> true)

  /** Run `body` with `spark.sql.codegen.factoryMode` at `factoryMode` and
    * whole-stage codegen on or off, then restore both.
    */
  def withCodegenMode[T](factoryMode: String, wholeStage: Boolean)(body: => T): T =
    withConf("spark.sql.codegen.factoryMode", factoryMode)(
      withConf("spark.sql.codegen.wholeStage", wholeStage.toString)(body))

  /** Run `body` with session conf `key` at `value`, then restore the
    * previous value (unset stays unset).
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
