package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * All queries in [[SparkEntry.queries]] read through here so that the scan
  * always goes through the same code path: plain parquet scans that Catalyst
  * can push filters into and prune columns from. At 100 TB these would be
  * partitioned/catalogued tables; the call sites only depend on the
  * DataFrame, so swapping the loader is a one-line change.
  */
object Tables {

  /** Per-path scan METADATA memo: the inferred schema and the
    * [[tooFewSplits]] repartition decision, fingerprinted by the file
    * listing (name, length, mtime of every part file).
    *
    * Why: every `spark.read.parquet(path)` call pays schema inference (a
    * footer-reading job, ~70 ms here) and every `df.rdd.getNumPartitions`
    * pays physical planning (~25 ms) — pure driver-side overhead (guide
    * §5/§6: the driver should do almost no work; file listing/metadata
    * should be cached across repeated scans of the same table). A bench
    * query touching two tables paid ~200 ms of this per RUN; a catalogued
    * production table amortizes it in the metastore. The memo holds ONLY
    * metadata derived from the file listing — never rows, never results —
    * and revalidates against the current listing on every call, so a
    * rewritten path (tests do this) recomputes. Keyed by parallelism too:
    * the repartition decision compares the scan's split count to the
    * session's core count.
    */
  private case class LoadMeta(schema: org.apache.spark.sql.types.StructType,
                              repartition: Boolean, fingerprint: String)
  private val loadMemo =
    new java.util.concurrent.ConcurrentHashMap[String, LoadMeta]()

  /** Listing fingerprint; None when the path cannot be listed (missing,
    * permission) — the caller then falls back to the uncached read so the
    * error surface is exactly the old one. Fatal throwables (OOM,
    * interrupts) propagate — only NonFatal listing failures take the
    * fallback (ADVICE r13).
    *
    * Granularity note: the fingerprint is a non-recursive (name, length,
    * mtime) listing — a same-name same-length rewrite within the
    * filesystem's mtime granularity (1 s on some stores) would serve the
    * stale schema/repartition decision. Acceptable here: the memo holds no
    * rows, both memoized values depend only on the schema and the split
    * count, and the test data is immutable per path within a process.
    */
  private def listingFingerprint(spark: SparkSession, path: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val entries = fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      Some(entries.sorted.mkString("\n"))
    } catch { case scala.util.control.NonFatal(_) => None }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (spark.conf.get("spark.graft.parallelizeInputs", "true") != "true")
      return spark.read.parquet(path)
    val target = spark.sparkContext.defaultParallelism
    val (df, spread) = listingFingerprint(spark, path) match {
      case None =>
        val df0 = spark.read.parquet(path)
        (df0, tooFewSplits(df0, target))
      case Some(fp) =>
        val key = s"$target|$path"
        val cached = Option(loadMemo.get(key)).filter(_.fingerprint == fp)
        val meta = cached.getOrElse {
          val df0 = spark.read.parquet(path)
          val m = LoadMeta(df0.schema, tooFewSplits(df0, target), fp)
          loadMemo.put(key, m)
          m
        }
        (spark.read.schema(meta.schema).parquet(path), meta.repartition)
    }
    if (spread) df.repartition(target) else df
  }

  /** Input parallelization guard: the driver-generated test parquet is one
    * file with ONE row group, so the scan plans a single input partition and
    * every CPU-heavy projection downstream runs single-threaded (measured:
    * 6 s for minhash signatures at sf0.1 on 32 idle cores). When the scan
    * yields fewer splits than the session's parallelism, [[load]]
    * redistributes once up front; with production inputs (many files / row
    * groups) this is a no-op. Filters still reach the parquet scan —
    * Catalyst pushes predicates and pruning through round-robin
    * repartition.
    *
    * TESTDATA-ONLY workaround, gated by `spark.graft.parallelizeInputs`
    * (default true): the round-robin redistribute DESTROYS any deliberate
    * layout — a pre-bucketed or pre-partitioned production table must be
    * read with the conf set to `false` (or through its catalog table, which
    * does not pass here) or its zero-exchange join layout is lost.
    */
  private def tooFewSplits(df: DataFrame, target: Int): Boolean =
    df.rdd.getNumPartitions < math.max(2, target / 2)

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations (Spark's vectorized reader rejects it outright — read
    * nanos as a long via the legacy conf, then convert losslessly: the
    * data is µs-aligned) and as TIMESTAMP(MICROS) isAdjustedToUTC=false in
    * others (reads as TIMESTAMP_NTZ). Normalize BOTH to a session-tz
    * TimestampType so every downstream window/date function sees one type;
    * the session tz is pinned UTC by all entry points, so the NTZ cast is
    * value-preserving.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Every synthetic table through its TYPED accessor (events needs the
    * nanos conf — a raw `load` of it throws PARQUET_TYPE_ILLEGAL). Used by
    * warmup paths that want the OS page cache primed.
    */
  def all(s: SparkSession, d: String): Seq[(String, DataFrame)] = Seq(
    "region" -> region(s, d), "nation" -> nation(s, d),
    "customer" -> customer(s, d), "supplier" -> supplier(s, d),
    "part" -> part(s, d), "orders" -> orders(s, d),
    "lineitem" -> lineitem(s, d), "events" -> events(s, d),
    "documents" -> documents(s, d), "embeddings" -> embeddings(s, d))
}
