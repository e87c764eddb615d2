package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Everything a workload needs: the session, the tracer, its inputs'
  * seed and how long to measure. */
final case class Ctx(
    spark: SparkSession,
    tracer: Tracer,
    seed: Long,
    seconds: Double,
    tiny: Boolean,
    cpus: Int,
    work: Path,
    data: Path) {
  def nowS(): Double = tracer.nowMs() / 1000.0

  /** Logs that a phase of the run ended, at the JVM's uptime, so a run's
    * wall time can be read phase by phase. */
  def mark(phase: String): Unit = Ctx.mark(phase)

  /** Whether one more cycle of `cycleS` seconds fits in the window that
    * opened at `t0` (seconds); the first cycle always runs. */
  def fits(t0: Double, cycles: Int, cycleS: Double): Boolean =
    cycles == 0 || nowS() - t0 + cycleS <= seconds

  /** Runs a workload's set-up `SetupRuns` times; the per-run seconds. */
  def setup(name: String)(body: Int => Unit): Seq[Double] = {
    val ts = (1 to Ctx.SetupRuns).map(i => Stats.time(body(i))._2)
    System.err.println(s"[perfbench] $name set-up runs (s): ${ts.mkString(" ")}")
    ts
  }

  /** A fresh, empty directory under the run's work dir. */
  def freshDir(name: String): Path = {
    val d = work.resolve(name)
    graft.store.GraftStore.deleteTree(d)
    Files.createDirectories(d)
  }
}

object Ctx {
  val SetupRuns = 3

  def mark(phase: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1000.0
    System.err.println(s"[perfbench] $phase at ${up}s")
  }
}

/** What a workload measured. `e2e` holds the end-to-end metrics;
  * `layers` the per-layer rows it owns (the `spark.*` rows come from the
  * tracer); `table` the metrics named after what they measure in this
  * workload, printed for people. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    table: Seq[(String, Double, String)])

/** The metrics BENCHMARK.json declares, (name, unit) in its order: the one
  * list of what a run reports. What each end-to-end metric measures per
  * workload is in perfbench/README.md. */
final case class Spec(endToEnd: Seq[(String, String)],
    perLayer: Seq[(String, String)]) {
  def unit(name: String): String = (endToEnd ++ perLayer).toMap.apply(name)
}

object Spec {
  def load(file: Path): Spec = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(Files.readString(file))
    def str(v: JValue) = v.asInstanceOf[JString].s
    def metrics(key: String) = (j \ key).children.map(m =>
      (str(m \ "name"), str(m \ "unit")))
    Spec(metrics("end_to_end"), metrics("per_layer"))
  }
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tiny: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "size")
    require(kv.keySet.subsetOf(known), s"unknown flag in ${kv.keys}")
    Args(kv.getOrElse("workload", sys.error("--workload required")),
      kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1",
      kv.getOrElse("size", "full") match {
        case "full" => false
        case "tiny" => true
        case s => sys.error(s"--size must be full or tiny, not $s")
      })
  }

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "live" -> LiveWorkload.run,
    "corpus" -> CorpusWorkload.run)

  /** The CPU count the benchmark pins, whatever the host: comparable runs
    * on any box with at least this many cores. */
  val MaxCpus = 4

  def session(work: Path, cpus: Int): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = Workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; one of " +
        Workloads.keys.toSeq.sorted.mkString(", ")))
    val work = Paths.get("perfbench", "work").toAbsolutePath
    val data = Paths.get("perfbench", "data").toAbsolutePath
    require(Files.isDirectory(data), s"missing $data")
    val spec = Spec.load(Paths.get("BENCHMARK.json"))
    val cpus = math.min(MaxCpus, Runtime.getRuntime.availableProcessors())
    val spark = session(work, cpus)
    val tracer = new Tracer(spark, a.trace)
    val ctx = Ctx(spark, tracer, a.seed, a.seconds, a.tiny, cpus, work, data)
    Ctx.mark("session up")
    try {
      val sentinel = new Sentinel(spark)
      sentinel.sample()
      Ctx.mark("sentinel")
      val out = run(ctx)
      Ctx.mark("workload done")
      sentinel.sample()
      val host = Map(
        "host.nproc" -> Runtime.getRuntime.availableProcessors().toDouble,
        "host.heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0) ++
        sentinel.triple
      val failedFrac = out.failed.toDouble / math.max(1L, out.attempted)
      (out.table ++ host.toSeq.sorted.map { case (k, v) =>
        (k, v, spec.unit(k)) } :+
        (("failed_frac", failedFrac, "ratio"))).foreach {
        case (k, v, u) => println(f"  $k%-34s ${v.toString}%14s $u")
      }
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) spec.endToEnd.map { case (k, u) =>
          (k, out.e2e.getOrElse(k, sys.error(s"workload did not report $k")), u)
        }
        else {
          val rows = out.layers ++ host ++ tracer.sparkRows() ++ Map(
            "run.failed_frac" -> failedFrac,
            "run.trace_listener_s" -> tracer.listenerSeconds)
          tracer.accounted().foreach { case (op, f) =>
            val k = s"spark.$op.accounted_frac"
            println(f"  $k%-34s ${f.toString}%14s ratio")
          }
          val f = Paths.get("perfbench", "out",
            s"trace-${a.workload}-${a.seed}.jsonl")
          tracer.write(f.toAbsolutePath)
          println(s"  spans written to $f")
          // a layer this workload does not reach reports 0; the self-test
          // checks that every listed metric is reported by some workload
          val unreported = spec.perLayer.map(_._1).filterNot(rows.contains)
          println(s"  unreported: ${unreported.mkString(",")}")
          spec.perLayer.map { case (k, u) => (k, rows.getOrElse(k, 0.0), u) }
        }
      val body = metrics.map { case (k, v, u) =>
        require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
        s""""$k": {"value": $v, "unit": "$u"}""" }
      println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
        s""""failed": ${out.failed}, "metrics": {${body.mkString(", ")}}}""")
    } finally spark.stop()
  }
}

/** The `graft.Bench` load probe: a fixed CPU-bound job whose time says how
  * loaded the box was while the run measured. */
final class Sentinel(spark: SparkSession) {
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
  private def once(): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 4000000L, 1L, 8).selectExpr("bit_xor(xxhash64(id))").head()
    (System.nanoTime() - t0) / 1e6
  }
  once() // codegen warm
  def sample(): Unit = samples ++= Seq.fill(3)(once())
  def triple: Map[String, Double] = Map(
    "host.sentinel_min_ms" -> samples.min,
    "host.sentinel_p50_ms" -> Stats.quantile(samples.toSeq, 0.5),
    "host.sentinel_max_ms" -> samples.max)
}

object Stats {
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent digest of a frame's rows over `cols`, each rendered
    * as a string: (row count, xor of the rows' 64-bit hashes). Two frames
    * with the same rows give the same digest whatever their types or
    * partitioning. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val h: Column = xxhash64(concat_ws("|", cols.map(c => coalesce(
      col(c).cast("string"), lit("\u0000"))): _*))
    val r = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Bytes and files under a directory. */
  def diskUsage(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      val files = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }

  /** Used heap after a full collection. Spark releases broadcast and
    * shuffle state asynchronously once their references are collected, so
    * a second collection follows a short pause. */
  def heapMb(): Double = {
    val r = Runtime.getRuntime
    System.gc()
    Thread.sleep(300)
    System.gc()
    (r.totalMemory() - r.freeMemory()) / 1048576.0
  }
}
