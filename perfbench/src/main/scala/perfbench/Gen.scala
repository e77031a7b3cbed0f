package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded, single-threaded input generator.
  *
  * Events follow the shape of the sf0.1 `events` table (users 0..1499,
  * five event types in equal shares, a `k` property in 0..99) and are
  * rendered as the reference's raw JSON envelope: `context` and
  * `event_properties` are JSON documents encoded as strings inside the
  * outer document, with the event names and properties
  * `graft.pipeline.RefEventsAdapter` derives from each event type. The generator
  * has no Spark dependency so the inputs do not change when the program
  * does, and the same seed always stages byte-identical files.
  *
  * Event ids are a bijective 64-bit mix of (seed, sequence number), so ids
  * are distinct within a run and differ between seeds.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rng = new SplittableRandom(mix(seed ^ 0x5DEECE66DL))
  private var seq = 0L

  private def nextId(): String = {
    seq += 1
    f"${mix((seed << 32) ^ seq)}%016x"
  }

  /** One new event at the given KST wall-clock instant. */
  def event(kst: LocalDateTime): String = {
    val uid = rng.nextInt(Users)
    val et = rng.nextInt(Types.length)
    val k = rng.nextInt(100)
    line(nextId(), kst.plusNanos(rng.nextInt(1000) * 1000000L), uid, et, k)
  }

  /** A uniformly random instant in [from, from + minutes). */
  def instant(from: LocalDateTime, minutes: Long): LocalDateTime =
    from.plusSeconds(rng.nextLong(minutes * 60))

  /** Selection sampling: called once for each of `left` remaining items,
    * it says yes exactly `need` times in total, at uniform positions.
    */
  def select(need: Long, left: Long): Boolean = rng.nextLong(left) < need
  def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.length))
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = ArrayBuffer.from(xs)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
  def gaussian(): Double = {
    // Box-Muller; one draw per call keeps the stream simple to reason about
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }
  /** Exponentially distributed with the given mean. */
  def exponential(mean: Double): Double = -mean * math.log(1.0 - rng.nextDouble())
  def int(bound: Int): Int = rng.nextInt(bound)
}

object Gen {
  val Users = 1500
  private val Types = Array("signup", "click", "error", "view", "purchase")
  // RefEventsAdapter's names for the types above, in the same order
  private val Names = Array("auth_success", "click_recipe", "view_page",
    "view_recipe", "click_bookmark")
  private val Segments = Array("power", "casual", "new")
  private val Levels = Array("high", "mid", "low")
  private val Styles = Array("korean", "western", "baking", "vegan")
  private val Positions = Array("top", "middle", "bottom", "sidebar", "recipe_detail")
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  /** splitmix64 finalizer: a bijection on 64-bit values. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def q(s: String) = "\"" + s + "\""
  private def obj(fields: Seq[(String, String)]): String =
    fields.collect { case (k, v) if v != null => q(k) + ":" + v }
      .mkString("{", ",", "}")
  private def esc(json: String) = json.replace("\"", "\\\"")

  /** The raw envelope line for one event (null fields are omitted, as
    * `to_json` omits them).
    */
  def line(eventId: String, kst: LocalDateTime, uid: Int, et: Int, k: Int): String = {
    val t = Types(et)
    val pageName = if (t == "error") null else q("page_" + t)
    val pageUrl = if (t == "error" || t == "view") null else q("https://r/" + t)
    val context = obj(Seq(
      "page" -> obj(Seq("name" -> pageName, "url" -> pageUrl, "path" -> q("/" + t))),
      "user_segment" -> q(Segments(uid % 3)),
      "activity_level" -> q(Levels(k % 3)),
      "cooking_style" -> q(Styles(uid % 4)),
      "ab_test" -> obj(Seq("scenario" -> q("sc1"),
        "group" -> q(if (uid % 2 == 0) "treatment" else "control"),
        "start_date" -> q("2024-01-01"), "end_date" -> q("2024-12-31")))))
    def arr(xs: Seq[String]) = xs.map(q).mkString("[", ",", "]")
    val adEvent = t == "view" || t == "click"
    val props = obj(Seq(
      "page_name" -> pageName,
      "recipe_id" -> (if (t == "click" || t == "view" || t == "purchase") q((1000 + k).toString) else null),
      "list_type" -> q(if (k % 2 == 0) "grid" else "list"),
      "action" -> (if (t == "purchase") q(s"dur:${k * 3}") else if (t == "click") q("cl") else null),
      "search_keyword" -> (if (t == "view") q(s"kw${k % 10}") else null),
      "result_count" -> (if (t == "view") k.toString else null),
      "selected_filters" -> (if (t == "view")
        arr((0 to k % 3).map(j => s"f${(k + j) % 8}")) else null),
      "displayed_recipe_ids" -> (if (t == "click")
        arr((0 to k % 4).map(j => (2000 + (k * 5 + j) % 500).toString)) else null),
      "targeting_tags" -> (if (t == "signup")
        arr(Seq(s"t${uid % 4}", s"u${k % 5}", s"v${(uid + k) % 7}")) else null),
      "position" -> (if (adEvent) q(Positions((k + uid) % 5)) else null),
      "personalization_score" -> (if (adEvent)
        ((if (uid % 2 == 0) 70 + k % 26 else 10 + k % 21) / 100.0).toString else null)))
    obj(Seq(
      "anonymous_id" -> q(s"anon-$uid"),
      "context" -> q(esc(context)),
      "event_id" -> q(eventId),
      "event_name" -> q(Names(et)),
      "event_properties" -> q(esc(props)),
      "session_id" -> q(s"$uid-${k % 5}"),
      "timestamp" -> q(kst.format(TsFmt) + "+09:00"),
      "user_id" -> q(uid.toString)))
  }

  /** Writes lines to a file, creating parent directories; returns bytes. */
  def writeLines(f: File, lines: Iterable[String]): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    f.length()
  }

  /** What a staged input holds: the counts the correctness gates compare
    * the warehouse against, and the mix shares the artifact records.
    */
  final case class Staged(lines: Long, distinct: Long, lateEvents: Long,
                          redeliveredLines: Long, bytes: Long) {
    def +(o: Staged): Staged = Staged(lines + o.lines, distinct + o.distinct,
      lateEvents + o.lateEvents, redeliveredLines + o.redeliveredLines, bytes + o.bytes)
  }

  /** One 15-minute interval of `events` new events, of which a `lateShare`
    * are dated the previous day, plus a `redeliverShare` of lines copied
    * byte for byte from `previous` (the prior interval's new events; none
    * for the first interval). Returns the staged counts and this
    * interval's new events.
    */
  def stageTick(g: Gen, file: File, start: LocalDateTime, events: Int,
                lateShare: Double, redeliverShare: Double,
                previous: IndexedSeq[String]): (Staged, IndexedSeq[String]) = {
    val out = ArrayBuffer[String]()
    val lateTotal = math.round(events * lateShare)
    var late = 0L
    for (i <- 0 until events) {
      if (g.select(lateTotal - late, events - i)) {
        late += 1
        out += g.event(g.instant(start.toLocalDate.minusDays(1).atStartOfDay, 24L * 60))
      } else out += g.event(g.instant(start, 15))
    }
    val redelivered =
      if (previous.isEmpty) Nil
      else (0 until math.round(events * redeliverShare).toInt).map(_ => g.pick(previous))
    val lines = g.shuffle(out.toSeq ++ redelivered).toIndexedSeq
    val bytes = writeLines(file, lines)
    // a redelivered line may repeat an event that is already staged, so
    // only the new events count as distinct
    (Staged(lines.size.toLong, events, late, redelivered.size.toLong, bytes), out.toIndexedSeq)
  }

  // sf0.1's documents draw their words uniformly from these 30
  val Vocab: IndexedSeq[String] = ("batch part spark line column order small sort fast value " +
    "scan a hash slow group agg filter query big key window row table stream " +
    "merge data vector the customer join").split(" ").toIndexedSeq

  /** `documents` rows (doc_id, text, lang, source, n_chars) built the way
    * sf0.1's are: 10 to 100 words drawn uniformly from [[Vocab]]; at
    * random positions, `nearDups` documents are another document's text
    * with " dup" appended and `exactDups` repeat one byte for byte; 41%
    * are "en", the rest split evenly over four languages; 20 sources in
    * turn. Long documents then share most of their token sets, so the
    * near-duplicate graph the cluster queries walk has one large
    * component, as sf0.1's has ([[Shape]] measures it).
    */
  def documents(g: Gen, n: Int, nearDups: Int, exactDups: Int)
      : IndexedSeq[(Long, String, String, String, Long)] = {
    val texts = Array.fill(n)((0 until 10 + g.int(91)).map(_ => g.pick(Vocab)).mkString(" "))
    val copies = g.shuffle(0 until n).take(nearDups + exactDups)
    val plain = (0 until n).filterNot(copies.toSet).toIndexedSeq
    copies.zipWithIndex.foreach { case (p, j) =>
      val src = texts(g.pick(plain))
      texts(p) = if (j < nearDups) src + " dup" else src
    }
    val others = IndexedSeq("es", "zh", "de", "fr")
    texts.toIndexedSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, if (g.int(100) < 41) "en" else g.pick(others), s"src${i % 20}",
        t.length.toLong) }
  }

  /** `embeddings` rows (vec_id, embedding, label) as sf0.1's are:
    * isotropic unit vectors and a uniform label that is independent of the
    * vector. At the 0.3 cosine threshold of q_embed_dup_clusters this gives
    * sf0.1's ~15k-edge graph, not dense per-label clusters.
    */
  def embeddings(g: Gen, n: Int, dim: Int, labels: Int): IndexedSeq[(Long, Array[Float], Int)] =
    (0 until n).map { i =>
      val v = Array.fill(dim)(g.gaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), g.int(labels))
    }

  /** `events` table rows (event_id, ts, user_id, event_type, value, props)
    * shaped like sf0.1's: a month of events from 1,500 users, five types
    * in equal shares, exponential values with mean 50 in cents.
    */
  def eventRows(g: Gen, n: Int, firstDay: LocalDateTime)
      : IndexedSeq[(Long, java.sql.Timestamp, Long, String, Double, String)] =
    (0 until n).map { i =>
      val ts = g.instant(firstDay, 30L * 24 * 60).plusNanos(g.int(1000000) * 1000L)
      (i.toLong, java.sql.Timestamp.valueOf(ts), g.int(Users).toLong,
        Types(g.int(Types.length)), math.round(g.exponential(50) * 100) / 100.0,
        s"""{"k": ${g.int(100)}}""")
    }
}
