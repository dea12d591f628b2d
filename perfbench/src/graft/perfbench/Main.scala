package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one client, closed loop.
  *
  * Usage (normally through `run.py`):
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --checksums <file>
  * Main --record <workload> --variants <from>-<to> --work <dir>
  * }}}
  * The last line on stdout is the result object
  * `{"correct", "attempted", "failed", "metrics"}`.
  */
object Main {

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Resumed reruns after each pass, at least this many and for at least
    * `ResumeSeconds`; `resume_s` is their median.
    */
  val ResumeReps = 5
  val ResumeSeconds = 3.0

  private val MB = 1e6

  /** End-to-end metrics with their units, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq("wall_s" -> "s", "items_per_s" -> "1/s",
    "setup_s" -> "s", "resume_s" -> "s", "shuffle_mb" -> "MB", "stored_mb" -> "MB",
    "peak_rss_mb" -> "MB")

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got: ${args.mkString(" ")}")
    Opts(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try {
        o.get("record") match {
          case Some(w) => record(Workloads.byName(w), o); 0
          case None => run(Workloads.byName(o("workload")), o)
        }
      } catch {
        case e: Throwable =>
          log(s"fatal: $e")
          e.printStackTrace()
          1
      }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  /** Resident-set high-water mark of this JVM since the last `reset`,
    * sampled from /proc/self/status.
    */
  final class RssSampler extends Thread("perfbench-rss") {
    setDaemon(true)
    @volatile private var peak = 0L
    def reset(): Unit = peak = current()
    def peakBytes: Long = math.max(peak, current())
    private def current(): Long = {
      val line = scala.io.Source.fromFile("/proc/self/status")
      try line.getLines().find(_.startsWith("VmRSS:"))
        .map(_.split("\\s+")(1).toLong * 1024L).getOrElse(0L)
      finally line.close()
    }
    override def run(): Unit = while (true) {
      val c = current()
      if (c > peak) peak = c
      Thread.sleep(10)
    }
  }

  /** One pass's measurements. */
  final case class PassStats(wallS: Double, resumeS: Double,
      shuffleBytes: Long, storedBytes: Long, peakRssBytes: Long,
      retainedBytes: Long, failed: Int)

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes of cached RDD blocks (memory and disk) still held. */
  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def cleanup(spark: SparkSession, out: String): Unit = {
    Fs.deleteTree(out)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Checksums of every recorded variant, keyed workload → variant → item. */
  def loadExpected(path: String, workload: String, variant: Int): Map[String, String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val node = root.path(workload).path(variant.toString)
    import scala.jdk.CollectionConverters._
    node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** pass → resume → (untimed) output check → retained-cache read → cleanup. */
  def onePass(w: Workload, ctx: Ctx, out: String, shuffle: ShuffleTotal,
      rss: RssSampler, expected: Map[String, String]): PassStats = {
    val spark = ctx.spark
    cleanup(spark, out)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val sh0 = shuffle.bytes.get()
    rss.reset()
    val t0 = System.nanoTime()
    var failed = 0
    try {
      ctx.span("pass") { w.pass(ctx, out) }
    } catch {
      case e: Exception => log(s"${w.name} pass failed: $e"); failed = w.attemptsPerPass
    }
    val wall = seconds(t0)
    val peak = rss.peakBytes
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val sh = shuffle.bytes.get() - sh0
    val resumes = ArrayBuffer.empty[Double]
    val rs0 = System.nanoTime()
    while (failed == 0 && (resumes.size < ResumeReps || seconds(rs0) < ResumeSeconds)) {
      val r0 = System.nanoTime()
      try w.resume(ctx, out)
      catch { case e: Exception => log(s"${w.name} resume failed: $e"); failed = w.attemptsPerPass }
      resumes += seconds(r0)
    }
    val resume = Stats.median(resumes.toSeq)
    val stored = Workloads.storedBytes(spark, out)
    if (failed == 0) {
      val got = w.sums(ctx, out)
      failed = w.failures(got, expected)
      if (failed > 0)
        log(s"${w.name} variant ${ctx.variant}: output check failed on " +
          got.filter { case (k, v) => !expected.get(k).contains(v) }.keys.toSeq.sorted.mkString(", "))
    }
    val retained = cachedBytes(spark)
    cleanup(spark, out)
    PassStats(wall, resume, sh, stored, peak, retained, failed)
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"

  def run(w: Workload, o: Opts): Int = {
    val seed = o("seed").toLong
    val budget = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = o("work")
    val variant = Inputs.variantOf(seed)
    val in = s"$work/inputs"
    val out = s"$work/out"
    val expected = loadExpected(o("checksums"), w.name, variant)
    if (expected.isEmpty) log(s"no recorded checksums for ${w.name} variant $variant")
    log(s"${w.name}: seed $seed -> variant $variant, ${if (traced) "traced" else "untraced"}")

    // set-up: fresh session, generated inputs, prebuilt artifacts
    var spark: SparkSession = null
    var stats = Map.empty[String, Inputs.TableStat]
    val reps = if (traced) 1 else SetupReps
    var tracer: Option[Tracer] = None
    val setupS = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work)
      if (traced) tracer = Some(new Tracer(spark.sparkContext))
      Fs.deleteTree(in)
      stats = w.setup(new Ctx(spark, in, variant, tracer))
      seconds(t0)
    }
    stats.toSeq.sortBy(_._1).foreach { case (t, s) =>
      log(f"input ${w.name}/$t: ${s.rows}%d rows, ${s.bytes}%d bytes")
    }
    val shuffle = new ShuffleTotal
    spark.sparkContext.addSparkListener(shuffle)
    val rss = new RssSampler
    rss.start()
    val plain = new Ctx(spark, in, variant, None)
    var attempted = 0L
    var failed = 0L
    def counted(p: PassStats): PassStats = {
      attempted += w.attemptsPerPass
      failed += p.failed
      p
    }

    // No warm-up: the first timed pass runs in a JVM that has started Spark
    // and written parquet but not yet run the workload, as a job submitted
    // on its own does. A warm-up pass would cost more than the run's budget
    // leaves on 4 cores.
    if (!traced) {
      val passes = ArrayBuffer.empty[PassStats]
      val t0 = System.nanoTime()
      while (passes.isEmpty || seconds(t0) < budget) {
        val p = counted(onePass(w, plain, out, shuffle, rss, expected))
        log(f"${w.name} pass ${passes.size + 1}: wall ${p.wallS}%.3f s, resume ${p.resumeS}%.3f s, " +
          f"retained cache ${p.retainedBytes / MB}%.3f MB")
        passes += p
      }
      def med(f: PassStats => Double): Double = Stats.median(passes.map(f).toSeq)
      val values = Map(
        "wall_s" -> med(_.wallS),
        "items_per_s" -> med(p => w.itemsPerPass / p.wallS),
        "setup_s" -> Stats.median(setupS),
        "resume_s" -> med(_.resumeS),
        "shuffle_mb" -> med(_.shuffleBytes / MB),
        "stored_mb" -> med(_.storedBytes / MB),
        "peak_rss_mb" -> med(_.peakRssBytes / MB))
      val metrics = EndToEnd.map { case (n, u) => (n, values(n), u) }
      log(s"${w.name}: ${passes.size} timed passes, setup reps ${setupS.map(s => f"$s%.2f").mkString(" ")}")
      println(resultJson(failed == 0, attempted, failed, metrics))
    } else {
      // warm-up, then an untraced and a traced pass, equally warm, so their
      // difference is the tracing overhead
      val t = tracer.get
      counted(onePass(w, plain, out, shuffle, rss, expected))
      val untraced = counted(onePass(w, plain, out, shuffle, rss, expected))
      Toolkit.selected = Toolkit.all
      t.beginPass(1)
      val tracedCtx = new Ctx(spark, in, variant, tracer)
      // the traced pass keeps its output until the layer metrics are read
      val tracedWall = {
        cleanup(spark, out)
        val t0 = System.nanoTime()
        var f = 0
        try tracedCtx.span("pass") { w.pass(tracedCtx, out) }
        catch { case e: Exception => log(s"traced pass failed: $e"); f = w.attemptsPerPass }
        val wall = seconds(t0)
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        if (f == 0) f = w.failures(w.sums(plain, out), expected)
        attempted += w.attemptsPerPass
        failed += f
        wall
      }
      val layers = Layers.compute(w, t, spark, out, untraced.wallS, tracedWall)
      val retained = cachedBytes(spark)
      cleanup(spark, out)
      Layers.writeArtifact(s"$work/trace-${w.name}-seed$seed.json", w, seed, variant,
        stats, t, layers, retained)
      println(resultJson(failed == 0, attempted, failed, layers.metrics))
    }
    0
  }

  /** Records the output checksums of variants `from`-`to`, one JSON line
    * per variant: `{"workload", "variant", "sums"}`.
    */
  def record(w: Workload, o: Opts): Unit = {
    val Array(from, to) = o("variants").split("-").map(_.toInt)
    val work = o("work")
    val spark = session(work)
    Toolkit.selected = Toolkit.all
    (from to to).foreach { v =>
      val ctx = new Ctx(spark, s"$work/inputs", v, None)
      Fs.deleteTree(ctx.in)
      w.setup(ctx)
      val out = s"$work/out"
      cleanup(spark, out)
      w.pass(ctx, out)
      val sums = w.sums(ctx, out)
      cleanup(spark, out)
      println(s"""{"workload": "${w.name}", "variant": $v, "sums": {""" +
        sums.toSeq.sortBy(_._1).map { case (k, s) => s""""$k": "$s"""" }.mkString(", ") + "}}")
      System.out.flush()
    }
  }
}
