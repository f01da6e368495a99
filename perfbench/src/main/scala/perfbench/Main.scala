package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.{Failure, Success, Try}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics; the last stdout line is
  * one JSON object (`correct`, `attempted`, `failed`, `metrics`).
  *
  * {{{
  * perfbench.Main --workload diff_lowchurn --seed 1 --seconds 10 --trace 0
  * }}}
  *
  * `--trace 0` times untraced ops and reports the end-to-end metrics.
  * `--trace 1` cycles untraced ops, real ops under the detailed
  * listener and span-replica ops, and reports the per-layer metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1")
  }

  /** The LM scoring queries of one `lm_score` pass. */
  val LmQueries = Seq("q198_kn3_buckets")

  /** sf0.1 sizes: 15,000 customers and 150,000 orders. */
  val Customers = 15000
  /** `diff_churn_fk` and `lm_score` run below sf0.1 (2,000 of its
    * 15,000 customers with their 20,000 orders, 2,000 of its 5,000
    * documents) to fit their run budget. Their op time is mostly fixed
    * per-job cost: 50,000 orders cost ~35% more per op than 20,000.
    */
  val ChurnCustomers = 2000
  val Documents = 2000

  /** Every workload by name, built from the session, work dir and seed. */
  val Workloads: Map[String, (SparkSession, File, Long) => Workload] = Map(
    // 0.5% of the orders each inserted, updated and deleted
    "diff_lowchurn" -> ((spark, work, seed) => new SyncWorkload("diff_lowchurn", spark, work,
      Gen.ordersChurn(seed, Gen.base(seed, Customers), Customers * Gen.OrdersPerCustomer / 200),
      Shape.OrdersDiff)),
    // 10% of the customers and orders each inserted, updated and deleted
    "diff_churn_fk" -> ((spark, work, seed) => new SyncWorkload("diff_churn_fk", spark, work,
      Gen.fkChurn(seed, Gen.base(seed, ChurnCustomers), ChurnCustomers / 10, ChurnCustomers),
      Shape.FkChurn)),
    "overwrite_json" -> ((spark, work, seed) => new SyncWorkload("overwrite_json", spark, work,
      Gen.ordersChurn(seed, Gen.base(seed, Customers), Customers * Gen.OrdersPerCustomer / 200),
      Shape.OrdersOverwriteJson)),
    "lm_score" -> ((spark, work, seed) => new LmWorkload(spark, work, seed, Documents, LmQueries)))

  /** Untimed ops before measuring: the first op is cold (class
    * loading, codegen, Derby caches) and takes ~4x a warm op.
    */
  val WarmupOps = 1
  /** Fewest timed ops per run. The first timed op still runs up to ~30%
    * slow while the JIT compiles; the median of three is robust to one
    * slow op. A second warm-up op did not make runs steadier.
    */
  val MinOps = 3

  final case class Sample(kind: Kind, wallS: Double, cpuS: Double, resultMb: Double,
      startMs: Long, endMs: Long, spansOp: Int, out: Option[Outcome])

  /** Process CPU nanoseconds over all threads (GC included), less the
    * JIT compiler threads': a short-lived JVM is still compiling while it
    * measures, and that work belongs to the harness, not the program.
    */
  private def cpuNow(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime - jitCpuNs()

  private val ClockTick = 1e9 / 100 // USER_HZ, fixed at 100 on Linux

  /** CPU of the JIT compiler threads from /proc (0 where absent). The
    * launcher pins the compiler thread count, so no compiler thread
    * exits and takes its CPU out of this sum.
    */
  private def jitCpuNs(): Long = {
    val tasks = new File("/proc/self/task").listFiles()
    if (tasks == null) return 0L
    tasks.iterator.map { t =>
      Try {
        val comm = new String(java.nio.file.Files.readAllBytes(new File(t, "comm").toPath)).trim
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          ((f(11).toLong + f(12).toLong) * ClockTick).toLong // utime + stime
        }
      }.getOrElse(0L)
    }.sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val root = new File(sys.props.getOrElse("perfbench.work", ".bench_build/perfbench"))
    val work = new File(root, s"${a.workload}-${a.seed}").getAbsoluteFile
    deleteTree(work)
    work.mkdirs()
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val w = Workloads(a.workload)(spark, work, a.seed)
    val spans = new Spans
    var seq = 0
    var attempted = 0
    var failed = 0
    var anyWrong = false // warm-up ops are checked too
    val errors = Seq.newBuilder[String]

    def runOp(kind: Kind, counted: Boolean): Sample = {
      spans.op = seq
      rec.detailed = kind != Plain
      val (c0, t0, m0, r0) = (cpuNow(), System.nanoTime(), System.currentTimeMillis(), rec.resultBytes.get)
      val res = Try(w.op(seq, kind, spans))
      val (t1, m1, c1) = (System.nanoTime(), System.currentTimeMillis(), cpuNow())
      ListenerBusDrain(spark.sparkContext)
      rec.detailed = false
      val r1 = rec.resultBytes.get
      val err = res match {
        case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        case Success(o) => Try(w.check(seq, o, m0)).fold(e => Some(s"check threw $e"), identity)
      }
      if (counted) attempted += 1
      err.foreach { e =>
        if (counted) failed += 1
        anyWrong = true
        errors += s"op $seq ($kind): $e"
        System.err.println(s"perfbench: op $seq ($kind) failed: $e")
      }
      System.err.println(f"perfbench: op $seq $kind wall=${(t1 - t0) / 1e9}%.3fs cpu=${(c1 - c0) / 1e9}%.3fs")
      val s = Sample(kind, (t1 - t0) / 1e9, (c1 - c0) / 1e9, (r1 - r0) / (1024.0 * 1024.0),
        m0, m1, seq, res.toOption.filter(_ => err.isEmpty))
      seq += 1
      if (err.nonEmpty) w.recover(seq)
      s
    }

    def phase[T](what: String)(body: => T): T = {
      val t = System.nanoTime()
      try body finally System.err.println(f"perfbench: $what took ${(System.nanoTime() - t) / 1e9}%.2fs")
    }
    System.err.println(f"perfbench: session ready at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2fs")
    phase("prepare")(w.prepare())
    (1 to WarmupOps).foreach(k => phase(s"warm-up op $k")(runOp(Plain, counted = false)))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val kinds = if (a.trace) w.tracedKinds else Seq(Plain)
    val samples = Seq.newBuilder[Sample]
    val loopStart = System.nanoTime()
    var i = 0
    // traced: two ops of every kind; then until the time is up
    val minOps = if (a.trace) 2 * kinds.size else MinOps
    while (i < minOps || (System.nanoTime() - loopStart) / 1e9 < a.seconds) {
      samples += runOp(kinds(i % kinds.size), counted = true)
      i += 1
    }
    val all = samples.result()
    val metrics =
      if (a.trace) LayerMetrics(w, all, spans, rec)
      else endToEnd(w, all, setupS)
    val human = (metrics.map { case (k, (v, u)) => s"$k=${fmt(v)}$u" } ++
      Seq(s"fail_frac=${fmt(failed.toDouble / math.max(1, attempted))} ($failed/$attempted)",
        s"ops=${all.size}") ++ opDiagnostic(all)).mkString(" ")
    println(s"perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0}: $human")
    errors.result().take(5).foreach(e => println(s"perfbench error: $e"))
    if (a.trace) spans.writeJsonLines(new File(work, "spans.jsonl"))
    println(resultJson(!anyWrong, attempted, failed, metrics))
    spark.stop()
  }

  /** op_s with its sample count and the highest percentile that leaves
    * at least ten samples above it.
    */
  private def opDiagnostic(all: Seq[Sample]): Seq[String] = {
    val walls = all.filter(_.kind == Plain).map(_.wallS).sorted
    val n = walls.size
    Seq(s"op_s_samples=$n") ++
      (if (n > 10) Seq(s"op_s_p${100 * (n - 10) / n}=${fmt(walls(n - 11))}s")
       else if (n > 0) Seq(s"op_s_max=${fmt(walls.last)}s") else Nil)
  }

  def endToEnd(w: Workload, all: Seq[Sample], setupS: Double): Seq[(String, (Double, String))] = {
    val ok = all.filter(_.out.isDefined)
    val use = if (ok.nonEmpty) ok else all
    val opS = median(use.map(_.wallS))
    Seq(
      "setup_s" -> (setupS, "s"),
      "op_s" -> (opS, "s"),
      "rows_per_s" -> (w.rowsPerOp / opS, "rows/s"),
      "cpu_s" -> (median(use.map(_.cpuS)), "s"),
      "driver_result_mb" -> (median(use.map(_.resultMb)), "MB"))
  }

  def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).round(new java.math.MathContext(8)).toString

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
