package maintbench

import graft.audio.Pcm
import graft.synth.{Clip, ClipSynth}

import scala.collection.mutable

/** Clip rows the client feeds the engine. Every field but the payload and
 * the transcript revision comes from [[ClipSynth]]; the payload holds only
 * the first `payloadMs` of the clip's tone, so a workload chooses how many
 * bytes it moves, while `dur_ms` keeps its full spread for range lookups
 * and the curve key. */
object Rows {
  def transcript(i: Long, rev: Int): String =
    if (rev == 0) ClipSynth.transcript(i) else s"${ClipSynth.transcript(i)} rev$rev"

  /** The samples of `Pcm.tone` (amplitude 0.8), made by the recurrence
   * s(n) = 2 cos(w) s(n-1) - s(n-2): two sines per clip instead of one per
   * sample, so making the rows stays cheap beside moving them. */
  def tone(freqHz: Double, srHz: Int, durMs: Int): Array[Short] = {
    val out = new Array[Short]((srHz.toLong * durMs / 1000L).toInt)
    val w = 2.0 * math.Pi * freqHz / srHz
    val k = 2.0 * math.cos(w)
    var s1 = 0.0
    var s2 = -math.sin(w)
    var i = 0
    while (i < out.length) {
      out(i) = (0.8 * 32767.0 * s1).toShort
      val s0 = k * s1 - s2
      s2 = s1
      s1 = s0
      i += 1
    }
    out
  }

  def clip(i: Long, rev: Int, payloadMs: Int): Clip = {
    val sr = ClipSynth.srHz(i)
    val dur = ClipSynth.durMs(i)
    val codec = ClipSynth.codec(i)
    val pcm = tone(ClipSynth.toneFreqHz(i), sr, math.min(dur, payloadMs))
    Clip(ClipSynth.clipId(i), Pcm.encode(codec, pcm), sr, dur, codec, transcript(i, rev))
  }
}

/** The client's own record of what the table must hold: live clip ids and
 * the transcript revision of each (0 = as first appended). */
final class Model(rnd: java.util.SplittableRandom) {
  private val ids = mutable.ArrayBuffer[Long]()
  private val pos = mutable.LongMap[Int]()
  private val rev = mutable.LongMap[Int]()
  private val removed = mutable.ArrayBuffer[Long]()

  def size: Int = ids.size
  def contains(i: Long): Boolean = pos.contains(i)
  def revision(i: Long): Int = rev(i)

  def add(i: Long): Unit = {
    pos(i) = ids.size
    ids += i
    rev(i) = 0
  }

  def upsert(i: Long, r: Int): Unit = {
    if (!contains(i)) add(i)
    rev(i) = r
  }

  def remove(i: Long): Unit = {
    val p = pos(i)
    val last = ids.last
    ids(p) = last
    pos(last) = p
    ids.remove(ids.size - 1)
    pos -= i
    rev -= i
    if (removed.size < 10000) removed += i
  }

  /** `k` distinct live ids. */
  def sample(k: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet[Long]()
    while (out.size < math.min(k, ids.size)) out += ids(rnd.nextInt(ids.size))
    out.toSeq
  }

  /** The key of the `n`-th point lookup. Kinds rotate live, deleted, live,
   * live, deleted, never written, so every run asks the same mix of hits and
   * misses (`absentFrom` is above every id the run writes). */
  def lookupKey(n: Int, absentFrom: Long): Long = n % 6 match {
    case 0 | 2 | 3 => ids(rnd.nextInt(ids.size))
    case 1 | 4 if removed.nonEmpty => removed(rnd.nextInt(removed.size))
    case _ => absentFrom + rnd.nextInt(1000000)
  }

  def countWhere(sr: Int, durLo: Int, durHi: Int): Long =
    ids.count { i =>
      ClipSynth.srHz(i) == sr && { val d = ClipSynth.durMs(i); d >= durLo && d <= durHi }
    }.toLong

  /** Differences between a full scan's (clip_id, transcript) pairs and the
   * model, as a short description; empty when they agree. */
  def diff(scan: Array[(String, String)]): String = {
    val seen = scan.map(_._1).toSet
    val dup = scan.length - seen.size
    val missing = ids.iterator.map(ClipSynth.clipId).filterNot(seen).take(3).toSeq
    val expected = ids.iterator.map(i => ClipSynth.clipId(i) -> i).toMap
    val extra = scan.iterator.map(_._1).filterNot(expected.contains).take(3).toSeq
    val wrong = scan.iterator.filter { case (id, t) =>
      expected.get(id).exists(i => Rows.transcript(i, rev(i)) != t)
    }.take(3).map(_._1).toSeq
    if (dup == 0 && missing.isEmpty && extra.isEmpty && wrong.isEmpty) ""
    else s"rows=${scan.length} model=${ids.size} duplicates=$dup missing=$missing " +
      s"extra=$extra wrongTranscript=$wrong"
  }
}
