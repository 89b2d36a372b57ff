package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed parquet directories; the
  * loaders keep the access path a plain parquet file-source scan so
  * Catalyst's filter pushdown / column pruning apply unchanged at any
  * scale.
  */
object Tables {

  /** A table's inferred schema and what it was inferred from. */
  private final case class Footer(files: Seq[(String, Long, Long)],
      confs: Map[String, String], schema: StructType)

  /** Footer-schema cache, one entry per table path.
    *
    * A bare `spark.read.parquet` infers the schema with a Spark job
    * (`mergeSchemasInParallel`) just to read a footer, and every compile,
    * query build and optimizer check reads its tables again. So each
    * read passes the schema last inferred for its path
    * (`spark.read.schema(cached).parquet`), which lists the files on
    * the driver and launches no job.
    *
    *  - Key: the path's leaf-file listing, each file's (path, length,
    *    mtime) as Spark's own file index lists it, plus the session's
    *    `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` confs
    *    (`events` sets `nanosAsLong`, which changes the inferred type).
    *  - Miss: when the path has no entry, its confs differ, or the
    *    cached read lists other files, the schema is inferred exactly as
    *    a bare read does and the entry is replaced.
    *  - Lifetime: the JVM, one entry per path, so a long-lived session
    *    that rewrites its tables keeps one entry per table.
    *  - Fallback: when the cached read fails (the path is gone), the
    *    bare read runs and raises Spark's own error, `PATH_NOT_FOUND`.
    */
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[String, Footer]()

  /** Paths with a cached schema (the bound is one entry per path). */
  private[graft] def cachedPaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    footers.keySet.asScala.toSet
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    val cached = Option(footers.get(path)).filter(_.confs == confs).flatMap { f =>
      try {
        val df = spark.read.schema(f.schema).parquet(path)
        if (leafFiles(df).contains(f.files)) Some(df) else None
      } catch { case _: AnalysisException => None }
    }
    cached.getOrElse {
      val df = spark.read.parquet(path)
      leafFiles(df).foreach(files => footers.put(path, Footer(files, confs, df.schema)))
      df
    }
  }

  /** The sorted (path, length, mtime) listing behind a file-source read. */
  private def leafFiles(df: DataFrame): Option[Seq[(String, Long, Long)]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation, PartitioningAwareFileIndex}
    df.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location match {
        case index: PartitioningAwareFileIndex =>
          Some(index.allFiles().map(s =>
            (s.getPath.toString, s.getLen, s.getModificationTime)).sorted)
        case _ => None
      }
      case _ => None
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  /** events.parquet's `ts` column has shipped in two physical forms
    * across fixture generations: TIMESTAMP(NANOS) (readable only as
    * INT64 nanos under `spark.sql.legacy.parquet.nanosAsLong=true`) and
    * plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark 4
    * surfaces as TIMESTAMP_NTZ). Normalize every arrival to a session-tz
    * TIMESTAMP so downstream `unix_micros`/`window()` calls type-check:
    * nanos convert with exact integer division (`div`, not `/` —
    * 1.7e18 ns overflows double precision); NTZ casts to LTZ under the
    * pinned UTC session timezone (same wall-clock = same instant).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // self-healing: the flag is a runtime-settable SQLConf, so sessions
    // built without it (e.g. a driver-owned session) still read events
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(s, d, "events"))
  }

  /** Normalize a `ts` column to TIMESTAMP (LTZ) per the events contract
    * above. Shared with the streaming file source, which reads the same
    * fixture through an explicit schema.
    */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Fan a CPU-heavy projection out across every core when its input
    * scan is too small to split (r18). The sf fixtures are single-row-
    * group parquet files, so `documents`/`embeddings` scans yield ONE
    * input split and an expensive per-row projection (per-window md5
    * hashing, shingling + minhash, N·k cosine scoring) runs on one task
    * while the other cores idle — measured 3.2 s single-task for dd24's
    * chunker at sf0.1 on local[32]. Round-robins to defaultParallelism
    * ONLY when the input's planned parallelism is below it, so at
    * production scale — where a corpus scan already yields far more
    * splits than cores — this adds NO exchange and is a no-op (the
    * guide §2.5 "input skew: one huge unsplittable file → repartition
    * immediately after the read", applied to the small-file end).
    * Row VALUES are untouched and every caller is row-order-insensitive
    * (the oracle gate hash-compares sorted rows), so results are
    * unchanged. The decision is purely LOGICAL-plan-based — no physical
    * planning, so nothing (broadcast futures, shuffle registration) is
    * eagerly prepared: it fires only when the input is a single
    * file-source leaf under deterministic unary operators whose planned
    * split count (Spark's own maxSplitBytes formula over the relation's
    * bytes) is below defaultParallelism. Anything else — joins, unions,
    * cached frames, local test relations — conservatively reads as
    * already-parallel and passes through untouched.
    */
  def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val sess = df.sparkSession
    val p = math.max(sess.sparkContext.defaultParallelism, 1)
    val analyzed = df.queryExecution.analyzed
    // idempotent: a composed pipeline may route an already-spread frame
    // into a second spread-guarded helper — one fan-out is enough. Only
    // SHUFFLING repartitions count (ADVICE r18): coalesce(n) is a
    // Repartition with shuffle=false — it narrows a frame to FEWER
    // partitions and must not suppress the fan-out — and a keyed
    // repartitionByExpression already established cluster-wide
    // parallelism (and a layout a round-robin on top would destroy).
    val alreadySpread = analyzed.exists {
      case r: Repartition => r.shuffle
      case _: RepartitionByExpression => true
      case _ => false
    }
    if (alreadySpread) return df
    // Enforce the documented guard (ADVICE r18): fire only when the
    // single file-source leaf sits under DETERMINISTIC, row-oblivious
    // unary shapes (projections/filters/aliases). Tie-sensitive or
    // row-id-shaped operators (limits, sorts, samples, windows, local
    // limits) and nondeterministic expressions conservatively read as
    // pass-through — their semantics may depend on row placement, which
    // a round-robin reshuffle perturbs.
    def plainPath(n: LogicalPlan): Boolean = n match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case pj: Project => pj.projectList.forall(_.deterministic) && plainPath(pj.child)
      case f: Filter => f.condition.deterministic && plainPath(f.child)
      case a: SubqueryAlias => plainPath(a.child)
      // coalesce (shuffle=false) narrows a starved frame further — the
      // fan-out may still fire above it (ADVICE r18)
      case r: Repartition if !r.shuffle => plainPath(r.child)
      case _ => false
    }
    if (!plainPath(analyzed)) return df
    val starved = analyzed.collectLeaves() match {
      case Seq(l: org.apache.spark.sql.execution.datasources.LogicalRelation) =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val conf = sess.sessionState.conf
            val open = conf.filesOpenCostInBytes
            // FilePartition's sizing, faithfully: every file is charged
            // openCostInBytes on top of its length, so a MULTI-file
            // relation plans at least ~one split per openCost-sized file
            // group — without the per-file charge a directory of p small
            // files read as one split and got a spurious fan-out
            // (caught by SpreadSpec's plan-identity test).
            val nFiles = math.max(fs.location.inputFiles.length, 1).toLong
            val padded = math.max(fs.location.sizeInBytes, 1L) + nFiles * open
            val maxSplit = math.min(conf.filesMaxPartitionBytes,
              math.max(open, padded / p))
            (padded + maxSplit - 1) / maxSplit < p
          case _ => false
        }
      case _ => false
    }
    if (starved) df.repartition(p) else df
  }
}

/** Cross-engine (Spark vs DuckDB) deterministic building blocks.
  *
  * The driver's correctness gate hash-compares our parquet output against a
  * DuckDB run of `oracleSql`, so every exposed value must be bit-identical
  * across engines:
  *   - integer outputs: computed integers always widened to BIGINT;
  *   - floating aggregates: never expose a raw SUM(double) (partial-agg
  *     order differs) — sum exactly as DECIMAL, cast the final value to
  *     DOUBLE (decimal→double conversion is correctly rounded in both);
  *   - hashes: engines' native hash functions differ, so the portable hash
  *     is the first 15 hex chars of md5 parsed as a 60-bit integer;
  *   - array folds: left-fold (`aggregate` / `list_reduce`) so IEEE add
  *     order is identical.
  */
object Portable {
  /** Spark-side SQL fragment: 60-bit deterministic hash of a string expr.
    * DuckDB equivalent: ('0x'||substr(md5(x),1,15))::BIGINT  */
  def hash60(x: String): String =
    s"cast(conv(substring(md5($x),1,15),16,10) as bigint)"

  /** DuckDB-side fragment for the same hash. */
  def duckHash60(x: String): String =
    s"(('0x'||substr(md5($x),1,15))::BIGINT)"

  /** Spark-side: order-insensitive exact sum of a double column, as double. */
  def dsum(col: String, scale: Int = 4): String =
    s"cast(sum(cast($col as decimal(28,$scale))) as double)"

  /** DuckDB-side: identical exact sum. */
  def duckDsum(col: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($col AS DECIMAL(28,$scale))) AS DOUBLE)"
}

/** A named query + optional DuckDB oracle. `fn` builds the Spark plan from
  * (session, scale-factor dir); `oracle` is ANSI-ish SQL DuckDB runs over
  * the same parquet tables registered under their bare names.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)
}
