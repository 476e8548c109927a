package graft.perfbench

import java.time.LocalDate

/** One generated memo note: the body plus the metadata the bench attaches
  * (`source`, `lang`, an int `priority`, and a `ts` date that rises with
  * insert order). */
final case class Doc(body: String, source: String, lang: String,
    priority: Int, ts: String) {
  /** The metadata as the engine stores it: MetaCodec typed strings
    * (`s` string, `i` int), the same values a YAML save produces. */
  def metadata: Map[String, String] = Map("source" -> s"s$source",
    "lang" -> s"s$lang", "priority" -> s"i$priority", "ts" -> s"s$ts")

  def yaml: String =
    s"---\nbody: ${Corpus.yamlQuote(body)}\nmetadata: {source: $source, " +
      s"lang: $lang, priority: $priority, ts: '$ts'}\n"
}

/** A metadata filter the workloads use, with its plain-Scala twin (the
  * output check for `analyzeCount`). */
final case class Filter(name: String, expr: String, matches: Doc => Boolean)

/** Seeded inputs. Document bodies follow the shape of the sf test data's
  * `documents` table: 10..100 tokens drawn uniformly from a 31-word
  * vocabulary, `lang` skewed to `en`, `source` one of 20 values. Every
  * document depends only on (seed, insert index), so any slicing of the
  * insert order into batches yields the same rows. */
object Corpus {
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
  val Sources = 20
  /** `ts` advances one day per this many inserts. */
  val RowsPerDay = 50
  private val Day0 = LocalDate.of(2024, 1, 1)

  private def rng(seed: Long, salt: Long, i: Long) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      (salt << 40) ^ i)

  def tsOf(insertIdx: Long): String =
    Day0.plusDays(insertIdx / RowsPerDay).toString

  private def text(r: java.util.SplittableRandom): String = {
    val n = 10 + r.nextInt(91)
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  /** The base document at insert index `i`. */
  def doc(seed: Long, i: Long): Doc = {
    val r = rng(seed, 1, i)
    val body = text(r)
    Doc(body, s"src${r.nextInt(Sources)}", Langs(r.nextInt(Langs.length)),
      r.nextInt(10), tsOf(i))
  }

  /** Ingest row `g` (0-based over the whole ingest stream) on top of a
    * `base`-row store: the body of base document `g mod base` with every
    * token suffixed `~k`, k = 1 + g / base (the ScaleGen replica rule, so
    * no body repeats), fresh seeded metadata, and a `ts` after the base. */
  def ingestDoc(seed: Long, base: Int, g: Long): Doc = {
    val src = doc(seed, g % base)
    val k = 1 + g / base
    val r = rng(seed, 2, g)
    Doc(src.body.split(' ').map(t => s"$t~$k").mkString(" "),
      s"src${r.nextInt(Sources)}", Langs(r.nextInt(Langs.length)),
      r.nextInt(10), tsOf(base + g))
  }

  /** Seeded query texts: 2..5 vocabulary words each. */
  def queries(seed: Long, n: Int): IndexedSeq[String] =
    (0 until n).map { i =>
      val r = rng(seed, 3, i)
      Iterator.fill(2 + r.nextInt(4))(Vocab(r.nextInt(Vocab.length)))
        .mkString(" ")
    }

  /** The analyze filters: the reference's shapes (bare equality, numeric
    * range, `$prefix`, `$ne`, `$or`, `$and` with a date range). */
  def analyzeFilters(seed: Long, rows: Int): IndexedSeq[Filter] = {
    val r = rng(seed, 4, 0)
    val lang = Langs(r.nextInt(Langs.length))
    val p = 3 + r.nextInt(5)
    val s = r.nextInt(Sources)
    val day = r.nextInt(math.max(1, rows / RowsPerDay))
    val from = Day0.plusDays(day).toString
    IndexedSeq(
      Filter("lang_eq", s"{lang: $lang}", _.lang == lang),
      Filter("priority_gte", s"{priority: {$$gte: $p}}", _.priority >= p),
      Filter("source_prefix", s"{source: {$$prefix: src$s}}",
        _.source.startsWith(s"src$s")),
      Filter("lang_ne", s"{lang: {$$ne: $lang}}", _.lang != lang),
      Filter("lang_or", "{$or: [{lang: fr}, {lang: de}]}",
        d => d.lang == "fr" || d.lang == "de"),
      Filter("ts_and", s"{$$and: [{ts: {$$gte: '$from'}}, " +
        s"{priority: {$$lte: $p}}]}", d => d.ts >= from && d.priority <= p))
  }

  /** A `ts` window of `days` days ending at insert index `end` — prunes to
    * the segments written in that window. */
  def tsWindow(end: Long, days: Int): Filter = {
    val hi = tsOf(end - 1)
    val lo = LocalDate.parse(hi).minusDays(days - 1L).toString
    Filter("ts", s"{$$and: [{ts: {$$gte: '$lo'}}, {ts: {$$lte: '$hi'}}]}",
      d => d.ts >= lo && d.ts <= hi)
  }

  /** `source` equality: every segment holds every source, so it prunes
    * nothing. */
  def sourceEq(seed: Long): Filter = {
    val s = s"src${rng(seed, 5, 0).nextInt(Sources)}"
    Filter("source", s"{source: $s}", _.source == s)
  }

  def yamlQuote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
