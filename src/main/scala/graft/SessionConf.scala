package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Scoped, session-local SQLConf overrides — the ONE definition of the
  * `spark.sql.shuffle.partitions` override previously duplicated in
  * GraphAnalytics and EventStreams, carrying the shared contract.
  *
  * CONTRACT — single-threaded session use: a `spark.conf.set` override is
  * SESSION-GLOBAL for its duration, so any query planned CONCURRENTLY on
  * the same SparkSession silently inherits the overridden value. Every
  * caller in this engine is a sequential driver (Verify, Bench and the
  * specs run queries one at a time on one session); a multi-threaded
  * server must either skip the override or plan its work on
  * `spark.newSession()` (SQLConf is per-session, the SparkContext is
  * shared).
  *
  * Why the override exists at all:
  *   - BOUNDED graph frames (contracted gate graphs, frontier-sized BFS
  *     steps): fewer map tasks trim per-step scheduling overhead that
  *     AQE's reduce-side coalescing cannot reach; corpus-scale frames
  *     pass `None`.
  *   - Streaming replays: a streaming query binds its STATE-STORE
  *     partition count to this setting at start, and the bounded replay
  *     instruments pay per-partition store setup/commit on EVERY
  *     micro-batch (measured: a stream-stream join burned ~30 s of pure
  *     store machinery on a 1,500-row replay at 32 partitions, ~3 s at
  *     4). Queries already running keep their own binding.
  *
  * The single-threaded contract is ENFORCED, not just documented: a
  * second thread entering an override on a session that another thread
  * currently holds would corrupt the save/restore pair (the restore
  * race), so that case throws immediately. Same-thread nesting is fine —
  * restores unwind in LIFO order.
  */
object SessionConf {

  private val ShuffleKey = "spark.sql.shuffle.partitions"

  /** Core count of the mains' local master: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The one session of the mains (Bench, Verify, Probe, ScaleProbe,
    * MergeProbe): `local[cpus]` with as many shuffle partitions, no UI, UTC
    * session time, then the `SPARK_GRAFT_EXTRA_CONF` overrides ("k=v;k=v",
    * a local A/B hook, unset for recorded benchmark runs). Every applied
    * override is echoed to stdout, so a recorded output documents its
    * config. Ends with a small warm-up job, so JVM class loading and
    * codegen start-up are not charged to the first query. */
  def localSession(): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(ShuffleKey, cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(parseConf(_).foreach { case (k, v) =>
      println(s"session: EXTRA_CONF applied $k=$v")
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000).selectExpr("sum(id)").collect()
    spark
  }

  /** Parses "k=v;k=v" into trimmed pairs. Empty segments (a trailing ';')
    * are skipped; any other segment without a key and '=' throws, naming
    * the segment — a mistyped override must not run silently unapplied. */
  def parseConf(s: String): Seq[(String, String)] =
    s.split(';').toSeq.filter(_.trim.nonEmpty).map { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF: segment '$seg' is not k=v")
      }
    }

  /** session (identity) -> thread currently holding an override, if any.
    * SparkSession does not override equals, so keys compare by identity;
    * entries are removed on exit, so nothing pins a session. */
  private val holders = new ConcurrentHashMap[SparkSession, Thread]()

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n` (restored after, even on throw). `None` runs `body` unchanged. */
  def withShufflePartitions[A](spark: SparkSession, n: Option[Int])(body: => A): A =
    n match {
      case None => body
      case Some(p) => withShufflePartitions(spark, p)(body)
    }

  /** Shuffle-partition count DERIVED FROM INPUT SIZE for the iterative
    * graph operators: ceil(plan-estimated bytes / `bytesPerPartition`),
    * clamped to [1, session default]. The estimate comes from the
    * input's optimized plan (a parquet/LogicalRDD scan reports real
    * bytes; a join-derived frame over-estimates, which only clamps back
    * to the session default — the safe direction). Guide §2: per-round
    * scheduling overhead of a Pregel loop is rounds × tasks × floor, and
    * AQE's reduce-side coalescing cannot shrink the MAP task count of
    * the next round's shuffle, so a kNN graph of a few hundred KB was
    * paying 32-task rounds at local[32] (measured r11: q418 3.0 -> 1.9 s,
    * q458 1.9 -> 1.1 s, q136 2.6 -> 1.1 s at derived≈4). At production
    * scale the same derivation yields the session default (inputs far
    * exceed bytesPerPartition × partitions), i.e. the override is a
    * no-op exactly when the data is big. */
  def sizedPartitions(df: org.apache.spark.sql.DataFrame,
                      bytesPerPartition: Long = 64L << 20): Option[Int] = {
    val cur = math.max(df.sparkSession.conf.get(ShuffleKey).toInt, 1)
    val stats = df.queryExecution.optimizedPlan.stats
    val bytes = stats.sizeInBytes
    // parallelism floor of 4 (or the session default if lower): a
    // control-plane-sized frame still spreads over a few cores, and the
    // measured sweet spot for the sf0.1 kNN-graph loops sat at ~4 (1-2
    // partitions serialized the per-round work for no overhead win)
    val floor = math.min(cur, 4)
    // under-estimate guard (r11 ADVICE): sizeInBytes can come in LOW on a
    // derived frame (selective-filter estimates, compressed-bytes stats);
    // when the plan carries a rowCount, floor the derivation by rows as
    // well (~4M rows per partition ≈ 64 MB at 16 B/row) so a genuinely
    // large input can never shrink to 4 partitions on a bad byte estimate.
    // rowCount is absent on most plans (no CBO stats) — then byte stats
    // from the leaf-scan call sites remain the (trustworthy) source.
    val rowFloor = stats.rowCount
      .map(r => (r / (1L << 22)) + 1).getOrElse(BigInt(1))
    val p = ((bytes / bytesPerPartition) + 1).max(rowFloor)
    Some(p.max(BigInt(floor)).min(BigInt(cur)).toInt)
  }

  def withShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val me = Thread.currentThread()
    val prev = holders.putIfAbsent(spark, me)
    val nested = prev eq me
    if (prev != null && !nested)
      throw new IllegalStateException(
        "withShufflePartitions: this session already has an active override " +
          s"held by thread '${prev.getName}' — the override is session-global; " +
          "concurrent callers must use spark.newSession() (see SessionConf contract)")
    val old = spark.conf.get(ShuffleKey)
    spark.conf.set(ShuffleKey, n.toString)
    try body
    finally {
      spark.conf.set(ShuffleKey, old)
      if (!nested) holders.remove(spark, me)
    }
  }
}
