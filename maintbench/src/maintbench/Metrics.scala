package maintbench

import Main.{median, quantile, tailQ}

/** Metric name -> (value, unit), in report order. */
object Metrics {
  type Out = Seq[(String, (Double, String))]

  val CommitOps = Set("append", "merge_mor", "delete")
  val Ops = Seq("append", "merge_mor", "delete", "compact", "cluster", "auto_maintain", "tag")
  /** Ops whose every call runs Spark jobs (tag and a no-op policy pass may
   * run none). */
  val SparkOps = Seq("append", "merge_mor", "delete", "compact", "cluster", "lookup")
  /** Source files whose jobs the per-call-site table reports by name. */
  val CallSiteFiles = Seq("MetaStore.scala", "FileBloom.scala", "Deletes.scala",
    "Evolve.scala", "Compact.scala", "Cluster.scala", "MergeInto.scala",
    "ScanEquality.scala", "Client.scala")

  /** Pooled (p50, tail) of `xs`. */
  private def p50Tail(xs: Seq[Double]): (Double, Double) = (median(xs), quantile(xs, tailQ(xs.size)))

  /** Completed engine calls per second of the loop, the client's own checks
   * and ScanEquality excluded. */
  def opsPerS(c: Client, loopNs: Long): Double = {
    val verifyNs = c.spans.filter(_.op == "verify").map(_.wallNs).sum
    c.spans.count(_.op != "verify") / ((loopNs - c.benchNs - verifyNs) / 1e9)
  }

  def endToEnd(c: Client, setups: Seq[(Long, Long)], loopNs: Long): Out = {
    val commits = c.spans.filter(s => CommitOps(s.op)).map(_.wallMs).toSeq
    val (c50, cTail) = p50Tail(commits)
    val (l50, lTail) = p50Tail(c.lookups.map(_.totalMs).toSeq)
    Seq(
      "setup_s" -> (median(setups.map(_._1 / 1e9)), "s"),
      "maintain_clips_per_s" -> (median(c.maints.map(m => m.rows / m.pauseS).toSeq), "clips/s"),
      "write_amp" -> (c.writtenBytes.toDouble / c.userBytes, "ratio"),
      "commit_p50_ms" -> (c50, "ms"),
      "commit_p90_ms" -> (cTail, "ms"),
      "churn_ops_per_s" -> (opsPerS(c, loopNs), "ops/s"),
      "maint_pause_s" -> (median(c.maints.map(_.pauseS).toSeq), "s"),
      "lookup_p50_ms" -> (l50, "ms"),
      "lookup_p90_ms" -> (lTail, "ms"))
  }

  /**
   * Per-layer metrics from the traced spans. A layer the workload's own loop
   * never reaches (ingest_churn issues no explicit compact, cluster or
   * ScanEquality) is read from the traced warm-up round, a miniature
   * bulk_maintain round on a tiny table: present, measured, but no signal
   * for that workload. The artifact lists which metrics came from it.
   */
  def perLayer(c: Client, warm: Client, l: JobListener, shape: Shape,
               setups: Seq[(Long, Long)], loopNs: Long): (Out, Seq[String]) = {
    val fromWarmup = Seq.newBuilder[String]
    val loopSpans = c.spans.filter(_.traced).toSeq
    val warmSpans = warm.spans.filter(_.traced).toSeq
    val work = (loopSpans ++ warmSpans).map(s => s.id -> l.work(s)).toMap
    def calls(op: String): Seq[Span] = {
      val own = loopSpans.filter(_.op == op)
      if (own.nonEmpty) own
      else { fromWarmup += op; warmSpans.filter(_.op == op) }
    }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)

    val ops = Ops.flatMap { op =>
      val cs = calls(op)
      Seq(
        s"ops.$op.wall_ms" -> (med(cs.map(_.wallMs)), "ms"),
        s"ops.$op.driver_ms" -> (med(cs.map(s => s.wallMs - work(s.id).jobCoveredMs)), "ms"),
        s"ops.$op.spark_jobs" -> (med(cs.map(s => work(s.id).jobs.toDouble)), "count"))
    }

    // MOR job count against the delete debt it reads through: least-squares
    // slope over the traced upserts (0 when they all saw the same debt)
    val mor = calls("merge_mor").map(s => (c.morLiveDeletes.getOrElse(s.id,
      warm.morLiveDeletes(s.id)).toDouble, work(s.id).jobs.toDouble))
    val slope = {
      val mx = mor.map(_._1).sum / math.max(1, mor.size)
      val my = mor.map(_._2).sum / math.max(1, mor.size)
      val sxx = mor.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (sxx == 0) 0.0 else mor.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }

    val lk = c.lookups.toSeq
    val table = Seq(
      "ops.merge_mor.jobs_per_live_delete" -> (slope, "jobs/file"),
      "table.live_delete_files" -> (med(mor.map(_._1)), "count"),
      "table.plan_ms" -> (med(lk.map(_.planNs / 1e6)), "ms"),
      "table.scan_exec_ms" -> (med(lk.map(_.execNs / 1e6)), "ms"),
      "table.files_kept_per_lookup" -> (lk.map(_.filesKept).sum.toDouble / lk.size, "count"),
      "table.files_total" -> (med(lk.map(_.filesTotal.toDouble)), "count"))

    val sites = l.byCallSiteFile(loopSpans)
    val warmSites = l.byCallSiteFile(warmSpans)
    val callSites = CallSiteFiles.flatMap { f =>
      val (n, ms) = sites.getOrElse(f, { fromWarmup += f; warmSites.getOrElse(f, (0, 0L)) })
      val stem = f.stripSuffix(".scala")
      Seq(s"table.jobs.$stem.count" -> (n.toDouble, "count"),
        s"table.jobs.$stem.job_ms" -> (ms.toDouble, "ms"))
    }

    val spark = SparkOps.flatMap { op =>
      val cs = calls(op).map(s => (s, work(s.id)))
      Seq(
        s"spark.$op.executor_cpu_ms" -> (med(cs.map(_._2.cpuMs)), "ms"),
        s"spark.$op.executor_run_ms" -> (med(cs.map(_._2.runMs.toDouble)), "ms"),
        s"spark.$op.shuffle_write_bytes" -> (med(cs.map(_._2.shuffleWriteBytes.toDouble)), "bytes"),
        s"spark.$op.output_bytes" -> (med(cs.map(_._2.outputBytes.toDouble)), "bytes"),
        s"spark.$op.tasks" -> (med(cs.map(_._2.tasks.toDouble)), "count"),
        s"spark.$op.busy_share" -> (med(cs.map { case (s, w) =>
          w.runMs / (s.wallMs * Main.Cores) }), "ratio"))
    }
    val engine = loopSpans.filter(_.op != "verify")
    val totals = Seq(
      "spark.gc_ms" -> (loopSpans.map(s => work(s.id).gcMs).sum.toDouble, "ms"),
      "spark.busy_share" -> (engine.map(s => work(s.id).runMs).sum /
        (engine.map(_.wallMs).sum * Main.Cores), "ratio"))

    val verifyRows = if (c.verifyRows.nonEmpty) c.verifyRows else warm.verifyRows
    val rest = Seq(
      "verify.compare_s" -> (med(calls("verify").map(_.wallMs / 1e3)), "s"),
      "verify.rows" -> (med(verifyRows.map(_.toDouble).toSeq), "count"),
      "synth.clips_per_s" -> (shape.seedClips / median(setups.map(_._2 / 1e9)), "clips/s"),
      // churn_ops_per_s measured with the listener attached: set against an
      // untraced run of the same workload and seed it gives the overhead
      "trace.ops_per_s" -> (opsPerS(c, loopNs), "ops/s"))

    (ops ++ table ++ callSites ++ spark ++ totals ++ rest, fromWarmup.result().distinct)
  }
}
