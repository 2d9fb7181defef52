package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** One generated document: the row the engine receives through `create` /
  * `update` (columns id, url, metadata, text).
  */
final case class Doc(id: String, url: String, metadata: Map[String, String], text: String)

/** One incremental-update tick: replaced and new documents (the last `added`
  * of them new), then deletes.
  */
final case class Tick(upserts: Seq[Doc], deletes: Seq[String], added: Int)

/** Seeded input generator. Everything a run feeds the engine comes from here:
  * the corpus, the request stream and the update/delete ticks. The engine sees
  * only the generated rows and JSON-RPC request lines.
  *
  * Every share and parameter below is an assumption, not a measurement of
  * real traffic or documents: each is chosen to give a property the benchmark
  * needs, and traced runs report what it gives on the built collection
  * (`filter_chunk_share`, `multi_chunk_document_share`, `lang_document_share`).
  *  - Zipf(1.0) over 4,000 synthetic terms: posting lists range from
  *    near-every-chunk to a handful of chunks. A small flat vocabulary would
  *    make every posting list huge and every BM25 read alike.
  *  - Log-normal document length, median 110 words, sigma 0.8: most texts fit
  *    one chunk and a tail spans several, so grouping chunks into documents
  *    does real work.
  *  - `lang` shares en/de/fr/ja 60/25/10/5 and `lastModifiedAt` uniform over
  *    2024-2025: each of [[Gen.Filters]] keeps a minority of the chunks, so
  *    filter pushdown prunes.
  *  - Queries of 1-3 terms drawn from the same Zipf law, skipping the ten
  *    stop-word-like head terms; one boolean match in four ANDs a term the
  *    corpus never uses, so the no-conjunctive-hit path runs too.
  *  - Ticks replace ~0.7% and add ~0.3% of the live documents and delete
  *    ~0.2%: a batch of about 1%, mostly changed documents, plus a small
  *    delete.
  *
  * Each part draws from its own stream derived from the seed, so the same seed
  * gives byte-identical inputs ([[digest]], checked by [[selfTest]]).
  */
final class Gen(seed: Long, val nDocs: Int) {
  import Gen._

  private def stream(part: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + part)

  /** Corpus vocabulary in Zipf rank order, then words the corpus never uses. */
  val (vocab, ghosts): (IndexedSeq[String], IndexedSeq[String]) = {
    val r = stream(1)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize + GhostWords) {
      val syl = 2 + r.nextInt(3)
      seen += (0 until syl).map { _ =>
        Consonants.charAt(r.nextInt(Consonants.length)).toString +
          Vowels.charAt(r.nextInt(Vowels.length))
      }.mkString
    }
    val all = seen.toIndexedSeq
    (all.take(VocabSize), all.drop(VocabSize))
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def zipfRank(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  private def queryTerm(r: SplittableRandom): String = {
    var rank = zipfRank(r)
    while (rank < StopRanks) rank = zipfRank(r)
    vocab(rank)
  }

  private def docText(r: SplittableRandom): String = {
    val words = math.max(12, math.min(900,
      math.round(math.exp(math.log(110.0) + 0.8 * r.nextGaussian())).toInt))
    val sb = new StringBuilder
    var lineLeft = 8 + r.nextInt(9)
    var i = 0
    while (i < words) {
      sb.append(vocab(zipfRank(r)))
      i += 1
      lineLeft -= 1
      if (i < words) {
        if (lineLeft == 0) {
          sb.append(if (r.nextInt(6) == 0) "\n\n" else "\n")
          lineLeft = 8 + r.nextInt(9)
        } else sb.append(' ')
      }
    }
    sb.toString
  }

  private def date(r: SplittableRandom, fromDay: Int, days: Int): String =
    java.time.LocalDate.ofEpochDay(fromDay + r.nextInt(days)).toString +
      f"T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00Z"

  private def doc(r: SplittableRandom, n: Int, fromDay: Int, days: Int): Doc = {
    val id = f"doc-$n%07d"
    val u = r.nextDouble()
    val lang = if (u < 0.6) "en" else if (u < 0.85) "de" else if (u < 0.95) "fr" else "ja"
    Doc(id, s"https://docs.example.org/$id",
      Map("lang" -> lang, "lastModifiedAt" -> date(r, fromDay, days)), docText(r))
  }

  /** The initial corpus, ids doc-0000000 .. nDocs-1, dated 2024-01 .. 2025-12. */
  lazy val corpus: IndexedSeq[Doc] = {
    val r = stream(2)
    (0 until nDocs).map(n => doc(r, n, Day2024, 730))
  }

  /** Tick `t` against the live id list (sorted). Replaced documents get a
    * fresh text and a 2026 date; new ids continue past every id issued so far.
    */
  def tick(t: Int, live: IndexedSeq[String], nextId: Int): Tick = {
    val r = stream(1000L + t)
    val nChanged = math.max(1, live.size * 7 / 1000)
    val nNew = math.max(1, live.size * 3 / 1000)
    val nDeleted = math.max(1, live.size * 2 / 1000)
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < nChanged + nDeleted) picked += live(r.nextInt(live.size))
    val (changed, deleted) = picked.toIndexedSeq.splitAt(nChanged)
    val upserts = changed.map(id => doc(r, id.stripPrefix("doc-").toInt, Day2026, 180)) ++
      (0 until nNew).map(i => doc(r, nextId + i, Day2026, 180))
    Tick(upserts, deleted, nNew)
  }

  /** Request `i` of the closed loop, an MCP `tools/call` line against
    * `collection`. Kinds cycle through `mix`, so every run serves the same
    * shares; the query terms and fetched id are drawn from request `i`'s own
    * stream. Fetch ids come from `fetchIds`, the ids live at that moment.
    */
  def request(i: Int, mix: IndexedSeq[String], collection: String,
              fetchIds: IndexedSeq[String]): Request = {
    val r = stream(100000L + i)
    // term count, filter and match form rotate with the cycle through the
    // mix, so runs of equal length serve the same shape of requests and only
    // the terms differ
    val cycle = i / mix.size
    val terms = Seq.fill(1 + cycle % 3)(queryTerm(r)).mkString(" ")
    mix(i % mix.size) match {
      case Search => Request(Search, call(i, "search_in_collection", collection,
        "query" -> terms, "numberOfChunks" -> ChunksPerSearch), terms, None)
      case SearchFiltered =>
        val f = Filters(cycle % Filters.length)
        Request(SearchFiltered, call(i, "search_in_collection", collection,
          "query" -> terms, "filter" -> f, "numberOfChunks" -> ChunksPerSearch), terms, Some(f))
      case Match =>
        val atoms = terms.split(" ").toSeq
        val q =
          if (cycle % 4 == 1) (atoms.take(1) :+ ghosts(r.nextInt(ghosts.size))).mkString(" AND ")
          else if (cycle % 4 == 2) atoms.mkString(" OR ")
          else atoms.mkString(" AND ")
        Request(Match, call(i, "match_in_collection", collection, "query" -> q), q, None)
      case Fetch =>
        val id = fetchIds(r.nextInt(fetchIds.size))
        Request(Fetch, call(i, "fetch_from_collection", collection, "id" -> id), id, None)
    }
  }

  /** SHA-256 over every input this generator hands the engine. */
  def digest(collection: String, ticks: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte) }
    corpus.foreach(d => { add(d.id); add(d.url); add(d.metadata.toSeq.sorted.mkString(";")); add(d.text) })
    val ids = corpus.map(_.id)
    (0 until 200).foreach(i => add(request(i, AgentMix, collection, ids).line))
    var live = ids
    var next = nDocs
    (0 until ticks).foreach { t =>
      val tk = tick(t, live, next)
      tk.upserts.foreach(d => { add(d.id); add(d.text) })
      tk.deletes.foreach(add)
      live = ((live.toSet -- tk.deletes) ++ tk.upserts.map(_.id)).toIndexedSeq.sorted
      next += tk.added
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** One closed-loop request: its kind, the JSON-RPC line, and the query text
  * (or fetched id) and filter the output checks need.
  */
final case class Request(kind: String, line: String, text: String, filter: Option[String])

object Gen {
  val VocabSize = 4000
  val GhostWords = 64
  val StopRanks = 10
  val ChunksPerSearch = 10
  val Consonants = "bcdfghjklmnprstvz"
  val Vowels = "aeiou"
  val Day2024: Int = java.time.LocalDate.parse("2024-01-01").toEpochDay.toInt
  val Day2026: Int = java.time.LocalDate.parse("2026-01-01").toEpochDay.toInt

  val Search = "search"
  val SearchFiltered = "search_filtered"
  val Match = "match"
  val Fetch = "fetch"

  /** The assumed agent request mix, by count: mostly search, so half plain
    * hybrid searches, and a sixth each of filtered searches, boolean matches
    * and fetches, so that every request kind runs in every cycle.
    */
  val AgentMix: IndexedSeq[String] = IndexedSeq(Search, Fetch, Search, SearchFiltered, Search, Match)

  /** Plain hybrid searches only. */
  val SearchMix: IndexedSeq[String] = IndexedSeq(Search)

  val Filters: IndexedSeq[String] = IndexedSeq(
    """lang = "de"""",
    """lastModifiedAt > "2025-10-01"""",
    """lang = "fr" or lang = "ja"""",
    """lang = "en" and lastModifiedAt >= "2025-07-01"""")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def call(id: Int, tool: String, collection: String, args: (String, Any)*): String = {
    val root = mapper.createObjectNode()
    root.put("jsonrpc", "2.0")
    root.put("id", id)
    root.put("method", "tools/call")
    val params = root.putObject("params")
    params.put("name", tool)
    val a = params.putObject("arguments")
    a.put("collection", collection)
    args.foreach {
      case (k, v: String) => a.put(k, v)
      case (k, v: Int)    => a.put(k, v)
      case (k, v)         => throw new IllegalArgumentException(s"$k: $v")
    }
    mapper.writeValueAsString(root)
  }

  /** A seed reproduces byte-identical inputs, and another seed does not. */
  def selfTest(seed: Long, nDocs: Int): String = {
    val n = math.min(nDocs, 500)
    val a = new Gen(seed, n).digest("c", 2)
    val b = new Gen(seed, n).digest("c", 2)
    val c = new Gen(seed + 1, n).digest("c", 2)
    require(a == b, s"generator is not deterministic for seed $seed")
    require(a != c, s"seeds $seed and ${seed + 1} give identical inputs")
    a
  }
}
