package maintbench

import java.nio.file.Path

import graft.ops._
import graft.synth.ClipSynth
import graft.table.{MetaStore, Pred}
import graft.verify.ScanEquality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.util.control.NonFatal

/**
 * Sizes of one workload. A round of the closed loop is
 *
 *   [after the first round: a fresh table, bulk append of the seed set]
 *   `cycles` x (append, MOR upsert, equality delete, tag, point lookups)
 *   maintenance: [compact -> Z-order cluster, gated by ScanEquality ->]
 *                AutoMaintain policy pass
 *   point and range lookups, then a full scan checked against the model
 *
 * The sizes decide which layer dominates.
 */
final case class Shape(
    seedClips: Int,
    seedFiles: Int,
    /** Set-ups before the loop; `setup_s` is their median. */
    setupReps: Int,
    /** Length of the tone each clip's payload holds (see [[Rows]]). */
    payloadMs: Int,
    /** Every round after the first appends the seed set into a new table
     * (bulk_maintain); otherwise the table set up last lives through all
     * rounds. The first round always runs on the set-up table. */
    freshTable: Boolean,
    cycles: Int,
    appendClips: Int,
    upsertClips: Int,
    deleteKeys: Int,
    cycleLookups: Int,
    /** Compact and cluster run before the policy pass; otherwise the policy
     * pass alone decides what to rewrite. */
    explicitMaintenance: Boolean,
    roundPoints: Int,
    roundRanges: Int,
    /** Files compact writes: its target size is table bytes / this, plus
     * 25% slack (see `maintain`). */
    compactFiles: Int,
    /** Target file size of cluster and of the policy = table bytes / this. */
    clusterFiles: Int)

object Shape {
  val all: Map[String, Shape] = Map(
    // data-heavy: compact + cluster move the whole table (full payloads),
    // two rewrites a round; the lookups after them plan over a clean
    // clustered table
    "bulk_maintain" -> Shape(seedClips = 10000, seedFiles = 32, setupReps = 3, payloadMs = 1000,
      freshTable = true,
      cycles = 1, appendClips = 100, upsertClips = 50, deleteKeys = 25, cycleLookups = 0,
      explicitMaintenance = true, roundPoints = 12, roundRanges = 2,
      compactFiles = 4, clusterFiles = 16),
    // overhead-bound: small commits pile up delete debt that every MOR
    // upsert and lookup reads through until the policy pass retires it
    "ingest_churn" -> Shape(seedClips = 10000, seedFiles = 4, setupReps = 4, payloadMs = 25,
      freshTable = false,
      cycles = 2, appendClips = 300, upsertClips = 100, deleteKeys = 30, cycleLookups = 1,
      explicitMaintenance = false, roundPoints = 12, roundRanges = 2,
      compactFiles = 4, clusterFiles = 4))

  /** The warm-up: a miniature bulk_maintain round on the table its set-up
   * seeded, every op once on a tiny table. */
  val warmup: Shape = all("bulk_maintain").copy(seedClips = 400, seedFiles = 4,
    payloadMs = 25, freshTable = false, appendClips = 20, upsertClips = 10, deleteKeys = 5,
    cycleLookups = 0, roundPoints = 1, roundRanges = 1, compactFiles = 2, clusterFiles = 2)
}

/** One point or range lookup: planning (`scanCurrentPruned`) and execution
 * (`.df.count()`) timed apart. */
final case class Lookup(planNs: Long, execNs: Long, filesKept: Int, filesTotal: Int) {
  def totalMs: Double = (planNs + execNs) / 1e6
}

object Client {
  private val spanIds = new java.util.concurrent.atomic.AtomicLong()
  /** Span ids are unique across clients: one listener serves them all. */
  def nextSpanId(): Long = spanIds.incrementAndGet()
}

/** Per-round maintenance outcome. */
final case class Maint(rows: Long, compactNs: Long, clusterNs: Long, autoNs: Long) {
  /** The stall the closed-loop writer sees: every maintenance call. */
  def pauseS: Double = (compactNs + clusterNs + autoNs) / 1e9
}

/**
 * The closed-loop client: one driver thread, each call issued after the
 * previous one returns. It reaches the engine only through public functions,
 * times each call as a [[Span]], keeps its own [[Model]] of the table and
 * checks every answer against it. A thrown call, an uncommitted maintenance
 * pass and a failed check each count as one failure; nothing is swallowed.
 */
final class Client(spark: SparkSession, shape: Shape, seed: Long, root: Path,
                   listener: JobListener) {
  private val sc = spark.sparkContext
  private val rnd = new java.util.SplittableRandom(seed)
  /** Seed-chosen id block: the engine sees only the generated rows. */
  private val base = 100000000L * (1 + java.lang.Math.floorMod(seed, 997L))
  private var nextId = base + shape.seedClips
  private def absentFrom = base + 90000000L

  val spans = mutable.ArrayBuffer[Span]()
  val lookups = mutable.ArrayBuffer[Lookup]()
  val maints = mutable.ArrayBuffer[Maint]()
  /** Live delete files each MOR upsert saw, by span id. */
  val morLiveDeletes = mutable.LongMap[Int]()
  val verifyRows = mutable.ArrayBuffer[Long]()
  /** The passes each AutoMaintain call ran. */
  val policyPasses = mutable.ArrayBuffer[Seq[String]]()
  var attempted = 0L
  var failed = 0L
  /** Bytes of the user's own rows and bytes of data and delete files
   * written, from the seed append of the last set-up table on. */
  var userBytes = 0L
  var writtenBytes = 0L
  /** Client-side time outside engine calls: checks, model and accounting. */
  var benchNs = 0L

  private var tracing = false
  private var benchDepth = 0
  private var round = 0
  private var tableSeq = 0
  private var store: MetaStore = _
  private var model: Model = _
  private var rev = 0
  private var points = 0

  private def stage: String = root.resolve("stage").toString

  private def fail(what: String, detail: String): Unit = {
    failed += 1
    System.err.println(s"[maintbench] FAILED $what: $detail")
  }

  /** One engine call as a span: the only place spans are made. None when it
   * threw (counted as failed). */
  private def call[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    val id = Client.nextSpanId()
    if (tracing) sc.setLocalProperty(JobListener.SpanKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(op, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally {
      val wall = System.nanoTime() - t0
      if (tracing) sc.setLocalProperty(JobListener.SpanKey, null)
      spans += Span(id, op, round, startMs, System.currentTimeMillis(), wall, tracing)
    }
  }

  /** Client-side work outside the engine's calls (nested uses count once). */
  private def bench[T](body: => T): T = {
    benchDepth += 1
    val t0 = System.nanoTime()
    try body
    finally {
      benchDepth -= 1
      if (benchDepth == 0) benchNs += System.nanoTime() - t0
    }
  }

  private def check(what: String)(ok: => Boolean, detail: => String): Unit = bench {
    attempted += 1
    try { if (!ok) fail(what, detail) }
    catch { case NonFatal(e) => fail(what, e.toString) }
  }

  private def snap: Long = store.currentSnapshotId.getOrElse(-1L)

  /** Data and delete file bytes in `post` that `pre` did not have. */
  private def newBytes(pre: Long, post: Long): (Long, Long) = bench {
    def files(id: Long, f: Long => Seq[graft.table.DataFile]) =
      if (id < 0) Map.empty[String, Long] else f(id).map(e => e.path -> e.sizeBytes).toMap
    val (d0, d1) = (files(pre, store.entries), files(post, store.entries))
    val (x0, x1) = (files(pre, store.deleteEntries), files(post, store.deleteEntries))
    (d1.iterator.filterNot(e => d0.contains(e._1)).map(_._2).sum,
      x1.iterator.filterNot(e => x0.contains(e._1)).map(_._2).sum)
  }

  /** A committing call: counts bytes written, and (`user`) the bytes of the
   * user's own rows. */
  private def write[T](op: String, user: Boolean)(body: => T): Option[T] = {
    val pre = bench(snap)
    val out = call(op)(body)
    val (data, deletes) = newBytes(pre, bench(snap))
    writtenBytes += data + deletes
    if (user) userBytes += data
    out
  }

  private def newTable(): Unit = {
    deleteTables()
    tableSeq += 1
    store = MetaStore.forClips(root.resolve(s"table-$tableSeq").toString)
    model = new Model(rnd)
  }

  private def seedRows(n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    val (b, ms) = (base, shape.payloadMs)
    spark.range(b, b + n, 1L, parts).map(i => Rows.clip(i, 0, ms)).toDF()
  }

  /** Synthesize the seed set into the staging parquet the seed append
   * reads. Returns the synth time. */
  def synth(): Long = {
    val t0 = System.nanoTime()
    seedRows(shape.seedClips, 4).write.mode("overwrite").parquet(stage)
    System.nanoTime() - t0
  }

  /** The seed set into the current table. Its own op, so that the commit
   * latencies and `ops.append.*` hold only the loop's small appends. */
  private def seedAppend(): Unit = {
    write("seed_append", user = true) {
      Append.run(spark, store, spark.read.parquet(stage).repartition(shape.seedFiles))
    }
    bench((base until base + shape.seedClips).foreach(model.add))
  }

  private def tableBytes: Long = store.entries(snap).map(_.sizeBytes).sum

  private def clusterNow(): Unit = {
    val target = bench(tableBytes / shape.clusterFiles + 1)
    write("cluster", user = false)(Cluster.run(spark, store, ZOrderCurve, target,
      hashCols = Seq("clip_id"), rangeCols = Seq("sr_hz", "dur_ms")))
  }

  /** Set-up, untimed by the loop: synth + seed append. Returns
   * (total ns, synth ns). */
  def setup(): (Long, Long) = {
    val t0 = System.nanoTime()
    newTable()
    userBytes = 0L; writtenBytes = 0L
    val synthNs = synth()
    seedAppend()
    (System.nanoTime() - t0, synthNs)
  }

  private def appendNew(): Unit = {
    val lo = nextId
    nextId += shape.appendClips
    import spark.implicits._
    val ms = shape.payloadMs
    val df = spark.range(lo, nextId, 1L, 1).map(i => Rows.clip(i, 0, ms)).toDF()
    write("append", user = true)(Append.run(spark, store, df))
      .foreach(_ => bench((lo until nextId).foreach(model.add)))
  }

  private def upsert(): Unit = {
    import spark.implicits._
    rev += 1
    val (r, ms) = (rev, shape.payloadMs)
    val keys = bench(model.sample(shape.upsertClips))
    val df = keys.map(i => Rows.clip(i, r, ms)).toDF()
    val live = bench(store.deleteEntries(snap).size)
    write("merge_mor", user = true)(MergeInto.runMor(spark, store, df))
      .foreach(_ => bench(keys.foreach(model.upsert(_, r))))
    morLiveDeletes(spans.last.id) = live
  }

  private def delete(): Unit = {
    import spark.implicits._
    val keys = bench(model.sample(shape.deleteKeys))
    val df = keys.map(ClipSynth.clipId).toDF("clip_id")
    write("delete", user = false)(Deletes.run(spark, store, df))
      .foreach(_ => bench(keys.foreach(model.remove)))
  }

  private def lookup(preds: Seq[Pred], expected: => Long, againstScan: Boolean): Unit =
    call("lookup") {
      val t0 = System.nanoTime()
      val ps = store.scanCurrentPruned(spark, preds)
      val t1 = System.nanoTime()
      val n = ps.df.count()
      lookups += Lookup(t1 - t0, System.nanoTime() - t1, ps.filesKept, ps.filesTotal)
      n
    }.foreach { n =>
      check(s"lookup $preds")(n == expected, s"got $n rows, model says $expected")
      if (againstScan)
        check(s"lookup $preds vs scan")(
          n == store.scanCurrent(spark).filter(Pred.and(preds)).count(),
          s"pruned lookup disagrees with scanCurrent + filter")
    }

  private def pointLookup(): Unit = {
    val k = bench(model.lookupKey(points, absentFrom))
    points += 1
    lookup(Seq(Pred.EqualTo("clip_id", ClipSynth.clipId(k))),
      if (model.contains(k)) 1L else 0L, againstScan = false)
  }

  private def rangeLookup(againstScan: Boolean): Unit = {
    val sr = Array(8000, 16000, 22050, 44100)(rnd.nextInt(4))
    val lo = 50 + rnd.nextInt(930)
    lookup(Seq(Pred.EqualTo("sr_hz", sr), Pred.Between("dur_ms", lo, lo + 20)),
      bench(model.countWhere(sr, lo, lo + 20)), againstScan)
  }

  private def maintain(): Unit = {
    val pre = bench(snap)
    val rows = bench(model.size.toLong)
    val s0 = spans.size
    if (shape.explicitMaintenance) {
      // the slack makes first-fit-decreasing packing of the seed's equal-
      // sized files land on exactly `compactFiles` bins whatever their seed-
      // dependent sizes; at table / compactFiles + 1 some seeds spill into
      // one more bin, and compact and cluster then run other job counts
      val target = bench(tableBytes * 5 / (4L * shape.compactFiles))
      write("compact", user = false)(Compact.run(spark, store, target))
      clusterNow()
      val post = bench(snap)
      call("verify") {
        val rep = ScanEquality.report(
          ScanEquality.compareSnapshots(spark, store, pre, post, checkSynth = false))
        bench(verifyRows += rep.rows)
        check("scan equality across compact + cluster")(
          rep.allPass && rep.rows == rows, s"report $rep, model rows $rows")
      }
    }
    // two churn cycles leave four delete eras: past this bound, so every
    // policy pass retires the debt
    val policy = MaintenancePolicy(targetBytes = bench(tableBytes / shape.clusterFiles + 1),
      smallFileFrac = 0.5, maxDeleteEras = 3)
    write("auto_maintain", user = false)(AutoMaintain.run(spark, store, policy))
      .foreach { applied =>
        bench(policyPasses += applied.map(_.decision.op))
        applied.filterNot(_.committed).foreach(a =>
          fail("auto_maintain", s"${a.decision.op} did not commit"))
      }
    def wall(op: String) = spans.iterator.drop(s0).filter(_.op == op).map(_.wallNs).sum
    maints += Maint(rows, wall("compact"), wall("cluster"), wall("auto_maintain"))
  }

  /** One round (see [[Shape]]). */
  def runRound(traced: Boolean): Unit = {
    round += 1
    tracing = traced
    if (traced) sc.addSparkListener(listener)
    if (shape.freshTable && round > 1) { newTable(); seedAppend() }
    for (_ <- 1 to shape.cycles) {
      appendNew()
      upsert()
      delete()
      call("tag")(Refs.tag(store, "latest"))
      for (_ <- 1 to shape.cycleLookups) pointLookup()
    }
    maintain()
    for (_ <- 1 to shape.roundPoints) pointLookup()
    for (k <- 0 until shape.roundRanges) rangeLookup(againstScan = k == 0)
    check("full scan matches the model") ({
      val rows = store.scanCurrent(spark).select(col("clip_id"), col("transcript"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      val d = model.diff(rows)
      if (d.nonEmpty) System.err.println(s"[maintbench] model diff: $d")
      d.isEmpty
    }, "final scan differs from the model")
    if (traced) {
      org.apache.spark.maintbench.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    tracing = false
  }

  def deleteTables(): Unit = if (tableSeq > 0)
    org.apache.commons.io.FileUtils.deleteQuietly(root.resolve(s"table-$tableSeq").toFile)

  /** Forget what set-up recorded but the byte counts of the table the loop
   * starts on; failures stay counted. */
  def resetMeasurements(): Unit = {
    spans.clear(); lookups.clear(); maints.clear(); morLiveDeletes.clear()
    verifyRows.clear(); policyPasses.clear()
    benchNs = 0L
  }
}
