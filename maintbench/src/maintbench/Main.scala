package maintbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/**
 * Maintenance benchmark entry point.
 *
 *   maintbench.Main --workload <bulk_maintain|ingest_churn>
 *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *
 * Prints a human report on stderr and, as the last stdout line, one JSON
 * object {correct, attempted, failed, metrics}: the end-to-end metrics with
 * `--trace 0`, the per-layer metrics with `--trace 1`. Spans, host state and
 * the per-call-site job table go to `<work>/results/`.
 */
object Main {
  val Cores = 4
  /** Below this much free space under the work dir the run refuses to start:
   * a nearly full filesystem measures the host, not the engine. */
  val MinFreeBytes: Long = 2L << 30

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Shape.all.contains(w), s"unknown workload $w (known: ${Shape.all.keys.mkString(", ")})")
    val t = need("trace")
    require(t == "0" || t == "1", "--trace takes 0 or 1")
    Args(w, need("seed").toLong, need("seconds").toInt, t == "1", Paths.get(need("work")))
  }

  // ---- statistics -------------------------------------------------------

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail quantile reported as `*_p90_*`: the highest percentile with at
   * least ten samples beyond it, capped at p90 and floored at p75. A run
   * holds 3 to 16 commits or lookups, so this is p75 of those few. */
  def tailQ(n: Int): Double = math.max(0.75, math.min(0.9, 1.0 - 10.0 / n))

  // ---- host state ---------------------------------------------------------

  /** Load average, the kernel's CPU time counters (`/proc/stat`, whose steal
   * column shows a virtual machine losing its cores), a short fsync'd write
   * probe, the Spark local dir and its free space: enough for the artifact
   * to tell a slow host window from a slow code path. */
  def hostState(dir: Path): Map[String, Any] = {
    def firstLine(f: String) =
      try new String(Files.readAllBytes(Paths.get(f)), UTF_8).linesIterator.next().trim
      catch { case _: java.io.IOException => "unavailable" }
    val f = dir.resolve("write-probe.bin")
    val block = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      for (_ <- 1 to 16) ch.write(java.nio.ByteBuffer.wrap(block))
      ch.force(true)
    } finally ch.close()
    val secs = (System.nanoTime() - t0) / 1e9
    Files.delete(f)
    Map("loadavg" -> firstLine("/proc/loadavg"), "cpu_jiffies" -> firstLine("/proc/stat"),
      "write_probe_mb_per_s" -> 16 / secs,
      "local_dir" -> dir.toString, "local_dir_free_bytes" -> Files.getFileStore(dir).getUsableSpace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "time_ms" -> System.currentTimeMillis())
  }

  // ---- JSON -----------------------------------------------------------------

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toMap)
    case other => json(other.toString)
  }

  // ---- run --------------------------------------------------------------------

  def session(local: Path, warehouse: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("maintbench")
      // the confs graft.Bench measures with
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "1m")
      .config("spark.hadoop.io.file.buffer.size", "1048576")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", local.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val shape = Shape.all(a.workload)
    val root = a.work.resolve(s"run-${ProcessHandle.current().pid()}")
    val local = root.resolve("spark-local")
    Files.createDirectories(local)
    val free = Files.getFileStore(root).getUsableSpace
    require(free >= MinFreeBytes,
      s"only ${free >> 20} MB free under $root; need ${MinFreeBytes >> 20} MB")
    val hostStart = hostState(local)
    val tStart = System.nanoTime()
    val spark = session(local, root.resolve("warehouse"))
    val sessionNs = System.nanoTime() - tStart
    val listener = new JobListener
    try {
      // warm-up: a miniature bulk_maintain round that calls every op, so
      // class loading, codegen and JIT are not billed to the set-up or the
      // round. It does the same work in both kinds of run; traced runs
      // trace it, and per-layer metrics of layers the workload's own loop
      // does not reach read it.
      val warm = new Client(spark, Shape.warmup, a.seed, root.resolve("warmup"), listener)
      warm.setup()
      warm.runRound(traced = a.trace)
      warm.deleteTables()
      val warmupNs = System.nanoTime() - tStart - sessionNs

      val client = new Client(spark, shape, a.seed, root.resolve("bench"), listener)
      val setups = (1 to shape.setupReps).map(_ => client.setup())
      client.resetMeasurements()

      val t0 = System.nanoTime()
      var rounds = 0
      while (rounds == 0 || System.nanoTime() - t0 < a.seconds * 1000000000L) {
        client.runRound(traced = a.trace)
        rounds += 1
      }
      val loopNs = System.nanoTime() - t0
      val hostEnd = hostState(local)

      val failed = client.failed + warm.failed
      val attempted = client.attempted + warm.attempted
      val (metrics, fromWarmup) =
        if (a.trace) Metrics.perLayer(client, warm, listener, shape, setups, loopNs)
        else (Metrics.endToEnd(client, setups, loopNs), Nil)

      System.err.println(f"[maintbench] ${a.workload} seed=${a.seed} session=${sessionNs / 1e9}%.1f s " +
        f"warm-up=${warmupNs / 1e9}%.1f s set-ups=${setups.map(_._1).sum / 1e9}%.1f s rounds=$rounds " +
        f"loop=${loopNs / 1e9}%.1f s attempted=$attempted failed=$failed " +
        f"failed_op_share=${failed.toDouble / attempted}%.4f")
      metrics.foreach { case (k, (v, u)) => System.err.println(f"  $k%-44s $v%14.4f $u") }

      val results = a.work.resolve("results")
      Files.createDirectories(results)
      val traced = client.spans.filter(_.traced)
      def spanRows(spans: Iterable[Span]) = spans.map { s =>
        Map("op" -> s.op, "round" -> s.round, "wall_ms" -> s.wallMs, "traced" -> s.traced,
          "work" -> (if (s.traced) listener.work(s) else null))
      }
      val artifact = Map(
        "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
        "session_s" -> sessionNs / 1e9, "warmup_s" -> warmupNs / 1e9,
        "rounds" -> rounds, "loop_s" -> loopNs / 1e9,
        "attempted" -> attempted, "failed" -> failed,
        "failed_op_share" -> failed.toDouble / attempted,
        "host_start" -> hostStart, "host_end" -> hostEnd,
        "setup_ns" -> setups.map(_._1), "synth_ns" -> setups.map(_._2),
        "policy_passes" -> client.policyPasses,
        "per_layer_from_warmup" -> fromWarmup,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) }: _*),
        "jobs_by_callsite_file" -> listener.byCallSiteFile(traced).map {
          case (f, (n, ms)) => f -> Map("jobs" -> n, "job_ms" -> ms) },
        "spans" -> spanRows(client.spans), "warmup_spans" -> spanRows(warm.spans))
      Files.write(results.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
        json(artifact).getBytes(UTF_8))

      println(json(Map(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, (v, u)) =>
          k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }
}
