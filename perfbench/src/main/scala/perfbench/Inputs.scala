package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Seeded, byte-reproducible input generators. Every value is a pure
  * function of (seed, entity id, salt), so a file's bytes depend only on
  * the seed and the sizes, never on thread count or write order.
  */
object Rng {
  /** SplitMix64 finaliser over the combined inputs. */
  def mix(xs: Long*): Long = {
    var z = 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      z = (z ^ x) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
    }
    z
  }

  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)

  /** Uniform double in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8),
      1 << 16)
  }

  def csvField(v: String): String =
    if (v == null) ""
    else if (v.isEmpty || v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v
}

/** A review's CSV fields; `scored` = survives the F1 filters with text. */
final case class Review(fields: Seq[String], survives: Boolean, scored: Boolean)

/** What a day's slice should add to the fact and send to the scorer. */
final case class DayExpect(survivors: Long, scoredRequests: Long)

/** A corpus round's batch: new ids start at `firstNewId`, and `rewrites`
  * documents re-crawl existing ids.
  */
final case class BatchExpect(firstNewId: Long, rewrites: Int)

/** The Steam landing zone of the reference job: applications, four
  * reference dims (categories and genres named in Polish and German, as
  * the translation step expects), four linkage files and daily review
  * slices under `reviews.csv/`.
  */
final class SteamInputs(seed: Long, val apps: Int, val reviewsPerDay: Int,
                        relandShare: Double = 0.02) {
  import Rng._

  private val categories = Seq(
    "Akcja" -> "Action", "Przygoda" -> "Adventure", "Strategia" -> "Strategy",
    "Symulacja" -> "Simulation", "Wyścigi" -> "Racing", "Sport" -> "Sports",
    "Einzelspieler" -> "Single-player", "Mehrspieler" -> "Multi-player",
    "Koop" -> "Co-op", "Erfolge" -> "Achievements", "Sammelkarten" -> "Trading Cards",
    "Bestenlisten" -> "Leaderboards", "Controller" -> "Controller Support",
    "Cloud-Speicher" -> "Cloud Saves", "Werkstatt" -> "Workshop", "Niezależne" -> "Indie")
  private val genres = Seq(
    "Aktion" -> "Action", "Abenteuer" -> "Adventure", "Rollenspiel" -> "RPG",
    "Gelegenheitsspiele" -> "Casual", "Strategie" -> "Strategy", "Rennspiel" -> "Racing",
    "Zręcznościowe" -> "Arcade", "Logiczne" -> "Puzzle", "Horror" -> "Horror",
    "Plattformer" -> "Platformer", "Wczesny dostęp" -> "Early Access")

  /** The translator's dictionary; every fifth name is left out, so the
    * translation step also takes its "NA" miss path.
    */
  val dictionary: Map[String, String] =
    (categories ++ genres).zipWithIndex.collect { case ((k, v), i) if i % 5 != 4 => k -> v }.toMap

  val developers: Int = math.max(10, apps / 8)
  val publishers: Int = math.max(5, apps / 20)

  private val types = Seq("game" -> 80, "dlc" -> 7, "demo" -> 5, "music" -> 5, "video" -> 3)
  private def weighted(h: Long, w: Seq[(String, Int)]): String = {
    var r = below(h, w.map(_._2).sum.toLong).toInt
    w.find { case (_, n) => r -= n; r < 0 }.get._1
  }

  private val words = Array("the", "game", "story", "graphics", "music", "level",
    "boss", "controls", "price", "update", "servers", "friends", "hours", "world",
    "quest", "map", "loot", "team", "mode", "patch", "really", "very", "not", "so")
  private val sentiment = Array("excellent", "amazing", "awesome", "perfect", "terrible",
    "awful", "unplayable", "worst", "good", "great", "fun", "enjoy", "boring", "crash",
    "bug", "poor")
  private val languages = Seq("english" -> 55, "polish" -> 10, "german" -> 10,
    "spanish" -> 10, "russian" -> 10, "schinese" -> 5)

  def writeStatic(dir: File): Unit = {
    dir.mkdirs()
    val a = writer(new File(dir, "applications.csv"))
    a.write("appid,name,type,release_date,is_free,mat_initial_price,mat_final_price," +
      "mat_currency,mat_supports_windows,mat_supports_mac,mat_supports_linux," +
      "metacritic_score,updated_at\n")
    (1 to apps).foreach { id =>
      def h(salt: Int) = mix(seed, 1, id, salt)
      val free = unit(h(3)) < 0.12
      // F3: a quarter of the free apps carry a price and must be dropped
      val price =
        if (free && unit(h(4)) >= 0.25) 0.0 else 0.99 + below(h(5), 6000) / 100.0
      val sale = if (unit(h(6)) < 0.3) math.round(price * 60) / 100.0 else price
      // P4: missing prices and currency are filled with defaults
      def orNull(v: String, salt: Int) = if (unit(h(salt)) < 0.05) "" else v
      val name = if (id % 17 == 0) s"Game $id, ${words(id % words.length)} edition"
        else s"Game $id"
      a.write(Seq(id.toString, csvField(name), weighted(h(2), types),
        f"${2005 + below(h(7), 19)}%04d-${1 + below(h(8), 12)}%02d-${1 + below(h(9), 28)}%02d",
        free.toString, orNull(f"$price%.2f", 10), orNull(f"$sale%.2f", 11),
        orNull("USD", 12), (unit(h(13)) < 0.95).toString, (unit(h(14)) < 0.3).toString,
        (unit(h(15)) < 0.2).toString, if (unit(h(16)) < 0.4) "" else (40 + below(h(17), 60)).toString,
        "2024-02-28T00:00:00").mkString(",") + "\n")
    }
    a.close()

    def refDim(file: String, names: Seq[String]): Unit = {
      val w = writer(new File(dir, file))
      w.write("id,name\n")
      names.zipWithIndex.foreach { case (n, i) => w.write(s"${i + 1},${csvField(n)}\n") }
      w.close()
    }
    refDim("categories.csv", categories.map(_._1))
    refDim("genres.csv", genres.map(_._1))
    refDim("developers.csv", (1 to developers).map(i => s"Studio $i"))
    refDim("publishers.csv", (1 to publishers).map(i => s"Publisher $i"))

    def linkage(file: String, key: String, salt: Int, maxPer: Int, n: Int): Unit = {
      val w = writer(new File(dir, file))
      w.write(s"appid,$key\n")
      (1 to apps).foreach { id =>
        val k = 1 + below(mix(seed, salt, id), maxPer.toLong).toInt
        val first = below(mix(seed, salt, id, 1), n.toLong).toInt
        (0 until k).map(j => 1 + (first + j * 7) % n).distinct
          .foreach(v => w.write(s"$id,$v\n"))
      }
      w.close()
    }
    linkage("application_categories.csv", "category_id", 21, 3, categories.length)
    linkage("application_genres.csv", "genre_id", 22, 2, genres.length)
    linkage("application_developers.csv", "developer_id", 23, 2, developers)
    linkage("application_publishers.csv", "publisher_id", 24, 1, publishers)
  }

  /** Review `i` of `day`; its bytes depend only on (seed, day, i). */
  def review(day: Int, i: Int): Review = {
    def h(salt: Int) = mix(seed, 2, day, i, salt)
    val id = 1000000L + day.toLong * reviewsPerDay + i
    // skewed popularity: a few apps draw most reviews
    val app = 1 + math.floor(math.pow(unit(h(1)), 2.0) * apps).toLong
    val kind = unit(h(2))
    val text =
      if (kind < 0.01) null
      else if (kind < 0.04) ""
      else {
        val n = 4 + below(h(3), 30).toInt
        val toks = (0 until n).map(j => words(below(mix(seed, 3, day, i, j), words.length).toInt))
        val withSentiment =
          if (unit(h(4)) < 0.8) toks.updated(below(h(5), n).toInt,
            sentiment(below(h(6), sentiment.length).toInt))
          else toks
        val joined = withSentiment.mkString(" ")
        if (kind < 0.07) joined.replaceFirst(" ", "\n") // multi-line field
        else if (kind < 0.09) "\"" + joined + "\", really" // embedded quotes + comma
        else joined
      }
    val playForever = if (unit(h(7)) < 0.04) below(h(8), 2).toDouble
      else 2.0 + below(h(9), 500000) / 100.0
    val playAtReview = if (unit(h(10)) < 0.03) 0.0 else math.max(0.5, playForever / 2)
    val earlyAccess = unit(h(11)) < 0.05
    val sponsored = unit(h(12)) < 0.08
    val secs = below(h(13), 86400).toInt
    val ts = f"2024-03-${1 + day % 28}%02dT${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d"
    val survives = playAtReview > 0 && playForever > 1 && !earlyAccess
    Review(Seq(id.toString, app.toString, weighted(h(14), languages), csvField(text), ts,
      sponsored.toString, below(h(15), 20).toString, f"$playForever%.2f",
      f"$playAtReview%.2f", earlyAccess.toString),
      survives, survives && text != null && text.nonEmpty)
  }

  /** Lands day `day` as `reviews.csv/day-NNNN.csv`. A `relandShare` of
    * the rows re-land reviews from earlier days (the upstream export
    * repeats updated reviews); the anti-join against the fact must drop
    * them once the earlier day has been loaded.
    */
  private def isRelanded(day: Int, i: Int): Boolean =
    day > 0 && unit(mix(seed, 4, day, i)) < relandShare

  def writeDay(dir: File, day: Int): DayExpect = {
    val w = writer(new File(dir, f"reviews.csv/day-$day%04d.csv"))
    w.write("recommendationid,appid,language,review_text,timestamp_updated," +
      "received_for_free,comment_count,author_playtime_forever," +
      "author_playtime_at_review,written_during_early_access\n")
    var survivors = 0L
    var scored = 0L
    (0 until reviewsPerDay).foreach { i =>
      val relanded = isRelanded(day, i)
      val r =
        if (relanded) {
          // copy a row that an earlier day landed as an original
          val from = below(mix(seed, 5, day, i), day).toInt
          review(if (isRelanded(from, i)) 0 else from, i)
        } else review(day, i)
      if (!relanded && r.survives) survivors += 1
      if (!relanded && r.scored) scored += 1
      w.write(r.fields.mkString(",") + "\n")
    }
    w.close()
    DayExpect(survivors, scored)
  }
}

/** The documents + 64-d embeddings corpus, after the distributions of the
  * repository's sf1 test-data tier: a ~31-token vocabulary, shared-prefix
  * near-duplicates (id = 1 mod 25), exact copies (id = 2 mod 625), unit
  * embeddings in 10 weak clusters, plus near-duplicate embeddings
  * (id = 3 mod 40). Written as JSON lines, one row per document.
  */
final class CorpusInputs(seed: Long, val corpusDocs: Int, val batchDocs: Int,
                         val sources: Int = 8, val sourcesPerBatch: Int = 2) {
  import Rng._

  private val vocab = Array("spark", "batch", "line", "column", "order", "sort",
    "value", "scan", "hash", "group", "fast", "slow", "small", "part", "query", "table",
    "vector", "agg", "filter", "customer", "stream", "key", "the", "window", "join", "a",
    "g", "shuffle", "plan", "row", "cache")
  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en", "de", "de",
    "de", "fr", "fr", "fr", "zh", "zh", "zh", "es", "es", "es")
  val dim = 64
  private val centers = Array.tabulate(10) { l =>
    val r = new java.util.Random(mix(seed, 9000, l))
    val c = Array.fill(dim)(r.nextGaussian())
    val nm = math.sqrt(c.map(x => x * x).sum)
    c.map(x => x / nm * 0.07)
  }

  /** Text of document content `key` (ids, or a salted key for rewrites). */
  def text(key: Long): String = {
    val base =
      if (key % 625 == 2 && key >= 2) key - 2
      else if (key % 25 == 1 && key >= 1) key - 1
      else key
    val mutateTail = base != key && key % 625 != 2
    val nToks = 8 + below(mix(seed, 10, base), 108).toInt
    (0 until nToks).map { i =>
      val src = if (mutateTail && i >= nToks - 3) key else base
      vocab(below(mix(seed, 11, src, i), vocab.length).toInt)
    }.mkString(" ")
  }

  def embedding(key: Long): Array[Float] = {
    val base = if (key % 40 == 3 && key >= 1) key - 1 else key
    val r = new java.util.Random(mix(seed, 12, base))
    val c = centers(r.nextInt(10))
    val v = Array.tabulate(dim)(d => c(d) + r.nextGaussian() * 0.125)
    if (base != key) {
      val jitter = new java.util.Random(mix(seed, 13, key))
      v.indices.foreach(d => v(d) += jitter.nextGaussian() * 0.002)
    }
    val nm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / nm).toFloat)
  }

  def sourceOf(id: Long): Int = below(mix(seed, 14, id), sources).toInt

  /** Sources a round's batch lands in: a rotating window, so upserts touch
    * a few partitions and leave the rest alone.
    */
  def roundSources(round: Int): Seq[Int] =
    (0 until sourcesPerBatch).map(k => (round * sourcesPerBatch + k) % sources)

  private def row(w: BufferedWriter, id: Long, key: Long, source: Int): Unit = {
    val t = text(key)
    val lang = langs(below(mix(seed, 15, key), langs.length).toInt)
    w.write("{\"doc_id\":" + id + ",\"text\":" + Json.str(t) + ",\"lang\":\"" + lang +
      "\",\"source\":\"src" + source + "\",\"n_chars\":" + t.length +
      ",\"embedding\":" + embedding(key).mkString("[", ",", "]") + "}\n")
  }

  /** The seed corpus: ids [0, corpusDocs), four files. */
  def writeCorpus(dir: File): Unit = {
    val per = math.max(1, (corpusDocs + 3) / 4)
    (0 until corpusDocs).grouped(per).zipWithIndex.foreach { case (ids, f) =>
      val w = writer(new File(dir, f"part-$f%02d.json"))
      ids.foreach(id => row(w, id.toLong, id.toLong, sourceOf(id.toLong)))
      w.close()
    }
  }

  /** Round `round`'s batch: new ids in the round's sources (with the
    * within-batch duplicates the planting rules give), every 50th a
    * verbatim copy of a corpus document, and a twentieth re-crawled corpus
    * documents (same id and source, new content) for the upsert to replace.
    */
  def writeBatch(dir: File, round: Int): BatchExpect = {
    val srcs = roundSources(round)
    val firstNew = corpusDocs.toLong + round.toLong * batchDocs
    val w = writer(new File(dir, "batch.json"))
    (0 until batchDocs).foreach { k =>
      val id = firstNew + k
      val src = srcs(below(mix(seed, 16, id), srcs.length).toInt)
      if (id % 50 == 7) {
        val orig = below(mix(seed, 17, id), corpusDocs)
        row(w, id, orig, src)
      } else row(w, id, id, src)
    }
    val wanted = batchDocs / 20
    val rewritten = Iterator.from(0)
      .map(k => below(mix(seed, 18, round, k), corpusDocs))
      .filter(id => srcs.contains(sourceOf(id)))
      .distinct.take(wanted).toSeq
    rewritten.foreach { id =>
      row(w, id, (1L << 40) + round.toLong * corpusDocs + id, sourceOf(id))
    }
    w.close()
    BatchExpect(firstNew, rewritten.length)
  }
}
