package graft

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata lake (TESTDATA.md).
  *
  * One parquet file per table under the scale-factor dir. At cluster scale
  * the same layout holds with many files per table; [[Parquet.read]]
  * handles both, and filter/column pushdown applies either way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** One nanos sibling per caller session, created lazily and reused —
    * events() is on the hot path of ~15 registered queries, and a fresh
    * SessionState per call is needless churn. Weak keys: a discarded
    * caller session must not pin its sibling. */
  private val nanosSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** `events.ts` has shipped in two parquet encodings over time:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * [PARQUET_TYPE_ILLEGAL] — unless read as raw longs via the legacy
    * conf) and plain TIMESTAMP(MICROS). A loader coupled to one encoding
    * dies at analysis time when the lake is rewritten with the other, so
    * we branch on the schema the reader actually produced:
    *
    *   - `LongType`: the file is nanos-annotated and the legacy conf
    *     surfaced raw ns. Convert with integer division (ns values
    *     ~1.7e18 exceed double's exact range, so `/ 1000` must be
    *     integral `div`; truncation toward zero matches DuckDB's ns->us
    *     narrowing, keeping the oracle comparable).
    *   - timestamp (NTZ or LTZ): pass through, cast to the session
    *     TimestampType. All entry points pin session timeZone=UTC, so an
    *     NTZ wall-clock cast preserves the stored micros and downstream
    *     event-time code (windows, watermarks, unix_micros) sees the
    *     exact values DuckDB reads.
    *
    * The nanos conf is SCOPED to this read, never set on the caller's
    * session — a loader must not silently repoint parquet semantics for
    * every subsequent read in the session. A reader option cannot do it
    * (ParquetFileFormat.setupHadoopConf overwrites the per-relation
    * Hadoop conf from the session SQLConf at plan time), so the read is
    * issued on a sibling session (`newSession()` — shared SparkContext
    * and cache, fresh SQLConf) that mirrors the caller's runtime conf
    * plus the nanos flag. The relation pins that session
    * (FileSourceScanExec builds its reader from `relation.sparkSession`),
    * so execution stays nanos-aware even when the frame is later joined
    * under, and executed by, the caller's session. A no-op for
    * micros-encoded files. Both branches plus the no-session-delta
    * contract are pinned by fixture tests in RelationalSpec ("events
    * loader survives both parquet timestamp encodings").
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val nanosSession = nanosSessions.synchronized {
      val cached = nanosSessions.get(spark)
      if (cached != null) cached
      else { val s = spark.newSession(); nanosSessions.put(spark, s); s }
    }
    // Re-sync the caller's runtime conf on every call (the sibling starts
    // from builder-time conf; later runtime changes must follow) — only
    // entries that actually differ, so the steady-state cost is a map
    // walk, not hundreds of set() calls. Static confs refuse runtime set
    // and cannot differ (both sessions share the builder values) — the
    // narrow catch documents exactly that case. The diff runs BOTH
    // directions: a key the caller has since UNSET must not keep its
    // stale value in the cached sibling (round-10 review), so sibling
    // keys absent from the caller's conf are unset too — except the
    // nanos flag itself, which is this sibling's entire reason to exist
    // and is re-pinned below.
    val callerConf = spark.conf.getAll
    callerConf.foreach { case (k, v) =>
      if (nanosSession.conf.getOption(k) != Some(v))
        try nanosSession.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    nanosSession.conf.getAll.keys
      .filter(k => k != "spark.sql.legacy.parquet.nanosAsLong" && !callerConf.contains(k))
      .foreach { k =>
        try nanosSession.conf.unset(k)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
    nanosSession.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Parquet.read(nanosSession, s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => // TIMESTAMP_NTZ (or future widenings): wall-clock cast under UTC
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
