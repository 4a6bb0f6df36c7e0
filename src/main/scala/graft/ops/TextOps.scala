package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, token statistics, quality scoring, stopword-profile
  * language ID, BPE-ish token estimation, and document fingerprinting.
  *
  * Everything is a pure `Column => Column` built from Spark SQL
  * higher-order/array/regex functions — no UDFs, so each stays inside
  * whole-stage codegen and distributes embarrassingly (per-row work only;
  * at 100 TB these run map-side with zero shuffle).
  */
object TextOps {

  /** Lowercase, collapse whitespace runs, trim — canonical form for
    * hashing/dedup so trivial formatting differences don't defeat
    * fingerprint equality.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Whitespace tokens. */
  def tokens(c: Column): Column = split(c, " ")

  def nTokens(c: Column): Column = size(tokens(c))

  /** Tokens-in-`stop` count over an ALREADY-MATERIALIZED token array.
    * Perf rule for every function here: tokenize once into a column,
    * barrier (repartition) so the array is physical, then run the
    * counting functions over the bound attribute — higher-order functions
    * are interpreted (no codegen CSE), so an inlined `split` would
    * re-tokenize per consumer.
    */
  def stopwordHits(toks: Column, stop: Seq[String]): Column = {
    val stopArr = array(stop.map(lit): _*)
    size(filter(toks, t => array_contains(stopArr, t)))
  }

  /** Fraction of characters that are punctuation (non-word, non-space). */
  def punctRatio(c: Column): Column =
    round(
      (length(c) - length(regexp_replace(c, "[^\\w\\s]", "")))
        .cast("double") / nullif(length(c), lit(0)),
      4)

  /** Count of tokens from `markers` present in the text — the per-language
    * evidence for [[langId]].
    */
  def markerHits(c: Column, markers: Seq[String]): Column =
    stopwordHits(tokens(c), markers)

  /** Stopword-profile language ID: score each candidate language by its
    * marker-word hits, pick the argmax (first-listed wins ties), fall back
    * to "unknown" when nothing matches. Profiles are tiny constant arrays —
    * codegen'd, no lookup table, no shuffle.
    */
  def langId(c: Column, profiles: Seq[(String, Seq[String])]): Column =
    langIdFromScores(profiles.map { case (lang, markers) =>
      lang -> markerHits(c, markers)
    })

  /** Argmax over precomputed per-language score columns (first listed wins
    * ties; all-zero → "unknown"). Use with [[stopwordHits]] over a
    * materialized token array so each profile scans the array once.
    */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("unknown"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** BPE-ish subword count estimate over a materialized token array
    * (see [[stopwordHits]] note): ceil(len/4) per whitespace token — the
    * standard chars/4 heuristic, exact enough for corpus budgeting.
    */
  def bpeFromTokens(toks: Column): Column =
    aggregate(
      toks,
      lit(0L),
      (acc, t) => acc + floor((length(t) + 3) / lit(4)).cast("long"))

  /** BPE-style regex token count: contractions, letter runs, digit runs,
    * punctuation runs, whitespace — the GPT-2 pre-tokenizer shape in the
    * RE2-safe common subset (runs identically under Java regex and
    * DuckDB/RE2 oracles).
    */
  val BpeRegex: String =
    "'[sdmt]|'ll|'ve|'re| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  def regexTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeRegex), lit(0)))

  /** Polynomial rolling hash over the token stream:
    * h = fold(h·B + hash28(token) mod P). Order-sensitive (unlike the
    * set-style MinHash), so it fingerprints the SEQUENCE — the classic
    * Rabin-Karp-style document signature. B/P chosen so every
    * intermediate stays far below 2^63 on engines that error on
    * overflow.
    */
  val RollB = 31L
  val RollP = 1000000007L

  def rollingFingerprint(c: Column): Column =
    aggregate(
      transform(tokens(c), t => portableHashBase(t)),
      lit(0L),
      (acc, h) => (acc * RollB + h) % RollP)

  /** Hex MD5 fingerprint of the normalized text (exact-dup key). MD5 is
    * engine-portable (identical in DuckDB/Trino/Spark), unlike Spark's
    * murmur `hash()`.
    */
  def fingerprintHex(c: Column): Column = md5(normalizeText(c))

  /** 60-bit numeric fingerprint: first 15 hex chars of MD5 → BIGINT.
    * Numeric form sorts/joins cheaper than the 32-char hex string at scale.
    */
  def fingerprint64(c: Column): Column =
    conv(substring(fingerprintHex(c), 1, 15), 16, 10).cast("long")

  /** RAW (un-normalized) 60-bit fingerprint of the exact bytes — the
    * variant round-trip gates use, where any whitespace/case
    * normalization would hide a decode corruption. DuckDB mirror:
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`. One definition — three
    * gates (WARC ×2, lake compaction) hash-compare on it, and a drift
    * in any copy would break oracle parity only at the drifted site.
    */
  def rawFingerprint64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** HTML → text: the boilerplate-strip between crawl decode and
    * quality filtering. Regexp cascade, fully codegen'd, mirrored
    * step-for-step by [[htmlToTextSql]] (one definition of the step
    * list drives both engines):
    *  1. drop script/style subtrees WITH their content (code is never
    *     corpus text; `(?s)` so the blocks may span lines);
    *  2. drop comments, then every remaining tag (attributes included);
    *  3. decode the five named entities crawl text actually carries
    *     plus decimal numeric references;
    *  4. collapse runs of whitespace and trim — tag removal leaves
    *     seams, and downstream tokenization assumes single spaces.
    * Deliberately NOT a full HTML5 parser (no entity table beyond the
    * named five, no CDATA): malformed-markup recovery belongs in a DOM
    * library, and the regexp subset is the industry-standard fast path
    * for crawl-scale extraction where the per-byte budget is tiny.
    */
  private val htmlSteps: Seq[(String, String)] = Seq(
    // script and style as SEPARATE patterns: DuckDB's RE2 has no
    // backreferences, so a shared `</\1>` close-tag form is not
    // portable; (?is) because real markup carries <SCRIPT>/<Style>
    // spellings, and a case-missed block leaks its whole JS/CSS body
    // into the corpus
    "(?is)<script\\b[^>]*>.*?</script\\s*>" -> " ",
    "(?is)<style\\b[^>]*>.*?</style\\s*>" -> " ",
    "(?s)<!--.*?-->" -> " ",
    "<[^>]+>" -> " ",
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    // numeric refs become a SPACE, not "": 'day&#8212;night' must not
    // fuse into the never-written token 'daynight' (the \s+ collapse
    // cleans the seam)
    "&#(\\d+);" -> " ",
    "&amp;" -> "&",    // LAST, so "&amp;lt;" decodes to the literal "&lt;"
    "\\s+" -> " ")

  def htmlToText(c: Column): Column =
    trim(htmlSteps.foldLeft(c) { case (acc, (re, rep)) =>
      regexp_replace(acc, re, rep)
    })

  /** The same cascade as DuckDB SQL over expression text `e`. DuckDB
    * regexp_replace needs the explicit 'g' flag (Spark is global by
    * default); `(?is)` travels inline, which both Java regex and RE2
    * accept, and SQL single-quoted strings pass backslashes through
    * verbatim — only quotes need doubling, in pattern AND replacement
    * (the `&#39;` step replaces with a literal `'`). The
    * html_extract_text oracle RUNS this mirror and asserts it equals
    * the hand-stated expected text, so the two cascades cannot drift.
    */
  def htmlToTextSql(e: String): String = {
    val body = htmlSteps.foldLeft(e) { case (acc, (re, rep)) =>
      s"regexp_replace($acc, '${re.replace("'", "''")}', '${rep.replace("'", "''")}', 'g')"
    }
    s"trim($body)"
  }

  /** The deterministic HTML furniture the extraction gate and the crawl
    * archive wrap documents in — one definition for the two queries and
    * their oracles (each exercises every cascade step: style block,
    * entity-laden heading, comment, script with a bare `<`).
    * [[HtmlFurnitureExpected]] is the hand-derived post-strip prefix
    * those oracles state as ground truth.
    */
  val HtmlFurniturePrefix: String =
    "<html><head><title>t</title><style>p{color:red}</style></head>" +
      "<body><h1>Header &amp; x&#39;s &lt;tag&gt;</h1><p>"
  val HtmlFurnitureSuffix: String =
    "</p><!-- crawl note --><script>var x = 1 < 2;</script></body></html>"
  val HtmlFurnitureExpected: String = "t Header & x's <tag> "

  def wrapInHtml(text: Column): Column =
    concat(lit(HtmlFurniturePrefix), text, lit(HtmlFurnitureSuffix))

  /** Seeded 60-bit hash of an arbitrary string column (building block for
    * MinHash signatures: h_i(x) = portableHash64(i || x)).
    */
  def portableHash64(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(seed.toString), lit("|"), c)), 1, 15), 16, 10)
      .cast("long")

  /** 28-bit engine-portable base hash (md5 prefix) — THE load-bearing
    * definition every DuckDB oracle mirrors ('0x'||substr(md5('0|'||x),
    * 1,7)); single source of truth, do not duplicate.
    */
  def portableHashBase(c: Column): Column =
    conv(substring(md5(concat(lit("0|"), c)), 1, 7), 16, 10).cast("long")

  /** Canonical-URL normalization — the CCNet/RefinedWeb provenance key
    * (one fetched page under many spellings must dedup to ONE corpus
    * entry). Pure regexp chain, fully codegen'd, mirrored verbatim by
    * the DuckDB oracle (Spark `regexp_replace` is global by default;
    * the SQL mirror passes 'g'):
    *  1. lowercase (hosts are case-insensitive; the synthetic corpus
    *     carries no case-sensitive paths),
    *  2. drop the fragment (`#...` never reaches the server),
    *  3. drop the `http(s)://` scheme and a leading `www.`,
    *  4. drop tracking parameters (`utm_*`, `fbclid`, `gclid`) wherever
    *     they sit in the query string, then tidy the separators they
    *     leave behind (`?&` → `?`, trailing `?`/`&`),
    *  5. drop a trailing slash.
    * Non-tracking query parameters SURVIVE — `?page=2` is a different
    * resource, not a different spelling.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(lower(url), "#.*$", "")
    val noScheme = regexp_replace(noFrag, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noTrack =
      regexp_replace(noWww, "(utm_[a-z0-9_]+|fbclid|gclid)=[^&#]*&?", "")
    val tidy = regexp_replace(regexp_replace(noTrack, "\\?&", "?"), "[?&]$", "")
    regexp_replace(tidy, "/$", "")
  }
}
