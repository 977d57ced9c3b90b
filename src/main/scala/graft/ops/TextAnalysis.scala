package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: token counting,
  * language ID, quality scoring, document fingerprinting. All pure Column
  * expressions (codegen'd, no UDFs) so they run inside one projection over
  * the documents scan at any scale — and each is mirrorable in ANSI-ish SQL
  * for the DuckDB oracle.
  *
  * Reference anchors: token/stopword cleanup (/root/reference/crawl4ai/
  * utils.py:2405-2633), BM25 tokenization (content_filter_strategy.py:
  * 485-505), content-addressed hashing (async_database.py:527-541).
  */
object TextAnalysis {

  /** Word tokens: lowercase, split on non-letter runs, drop empties. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), t => t =!= "")

  /** Whitespace word count. */
  def wordCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** BPE-ish token count: word pieces + single punctuation marks
    * (`\w+|[^\w\s]` — the standard pre-tokenizer shape).
    */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  // Small per-language function-word lists (public common stopwords).
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ich", "nicht", "ein", "zu", "mit"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "un", "una", "es", "que", "por", "para"))

  /** Per-language evidence: DISTINCT token overlap with the language's
    * function words (n-gram-free heuristic language ID).
    */
  def langEvidence(text: Column, lang: String): Column =
    size(array_intersect(array_distinct(tokens(text)),
      typedLit(stopwords(lang))))

  /** Predicted language: argmax of evidence, ties broken by language-code
    * order, "und" (undetermined) when no evidence at all.
    */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val ev = langs.map(l => l -> langEvidence(text, l))
    val best = ev.map(_._2).reduce((a, b) => greatest(a, b))
    // when-chain in sorted-language order: first max wins ties
    ev.foldRight(lit("und")) { case ((l, e), acc) =>
      when(e === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Punctuation fraction of all characters. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^!?.,;:]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Fraction of word tokens that are English function words (NON-distinct —
    * a frequency ratio, unlike [[langEvidence]]).
    */
  def stopwordRatio(text: Column, lang: String = "en"): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords(lang): _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Mean word length over whitespace tokens. */
  def meanWordLength(text: Column): Column = {
    val toks = filter(split(text, "\\s+"), t => t =!= "")
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1] — the length/punct/stopword-ratio
    * heuristic family used for pre-training corpus filtering:
    *   0.25·len_band + 0.25·word_band + 0.2·stopword_presence
    * + 0.15·punct_sanity + 0.15·word_len_sanity
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text)
    val nWords = wordCount(text)
    val lenBand = when(nChars.between(200, 20000), 1.0)
      .when(nChars.between(50, 199), 0.5).otherwise(0.0)
    val wordBand = when(nWords >= 30, 1.0)
      .when(nWords >= 10, 0.5).otherwise(0.0)
    val stopPresence = when(stopwordRatio(text) > 0.02, 1.0).otherwise(0.0)
    val punctSane = when(punctRatio(text) <= 0.2, 1.0).otherwise(0.0)
    val mwl = meanWordLength(text)
    val wordLenSane = when(mwl.between(3.0, 10.0), 1.0).otherwise(0.0)
    lenBand * 0.25 + wordBand * 0.25 + stopPresence * 0.2 +
      punctSane * 0.15 + wordLenSane * 0.15
  }

  /** Word k-shingles joined by single spaces: ["a b c", "b c d", ...]. */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - lit(k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Winnowing-style document fingerprint: lexicographic min of the md5
    * hashes of all word 3-shingles (content-defined, order-invariant to
    * shingle position, stable under whitespace normalization). SQL twin:
    * list_min(list_transform(shingles, md5)).
    */
  def fingerprint(text: Column, k: Int = 3): Column =
    array_min(transform(shingles(text, k), s => md5(s)))

  // ---- chunking strategies (chunking_strategy.py re-expressed) -------------

  /** RegexChunking: split on a pattern (default blank lines), drop empties. */
  def regexChunks(text: Column, pattern: String = "\\n\\n"): Column =
    filter(split(text, pattern), c => trim(c) =!= "")

  /** SlidingWindowChunking (chunking_strategy.py:175-213), reference-exact
    * boundaries over the pipeline's whitespace convention (Java `\s+` word
    * split — ASCII whitespace, same as [[wordCount]]; Python's str.split()
    * additionally treats exotic Unicode whitespace as separators):
    * word windows of `window` tokens advancing by `step`; a text of ≤ window
    * words is returned whole (the ORIGINAL text, whitespace preserved);
    * when the last step-aligned window doesn't reach the end, one extra
    * chunk of the LAST `window` words is appended (`words[-window:]`, not a
    * short remainder). Pure array HOFs — one scan-stage projection.
    */
  def slidingWindowChunks(text: Column, window: Int = 100, step: Int = 50): Column = {
    require(window > 0 && step > 0, "window and step must be > 0")
    val toks = filter(split(text, "\\s+"), t => t =!= "")
    val n = size(toks)
    // main windows: i in [0, floor((n-window)/step)]; tail iff misaligned
    val lastMain = ((n - window) / step).cast("int")
    val main = transform(sequence(lit(0), lastMain),
      i => concat_ws(" ", slice(toks, i * step + 1, lit(window))))
    val tail = slice(
      array(concat_ws(" ", slice(toks, n - window + 1, lit(window)))),
      lit(1), when(lastMain * step + window < n, 1).otherwise(0))
    when(n <= window, array(text)).otherwise(concat(main, tail))
  }

  /** OverlappingWindowChunking (chunking_strategy.py:216-256), reference-
    * exact: windows of `window` words whose start advances by
    * `window - overlap`; the final chunk is the (possibly shorter) remainder
    * and a text of ≤ window words is returned whole (original text).
    */
  def overlappingWindowChunks(text: Column, window: Int = 1000,
                              overlap: Int = 100): Column = {
    require(overlap >= 0 && overlap < window, "need 0 <= overlap < window")
    val stride = window - overlap
    val toks = filter(split(text, "\\s+"), t => t =!= "")
    val n = size(toks)
    // k in [0, K] with K = smallest k where k*stride + window >= n
    val k = ((n - window + stride - 1) / stride).cast("int")
    when(n <= window, array(text))
      .otherwise(transform(sequence(lit(0), k),
        i => concat_ws(" ", slice(toks, i * stride + 1, lit(window)))))
  }

  /** Compiled twin of the fixed-width chunking Column form
    * `transform(sequence(0, (size(tokens)-1)/w), i -> concat_ws(" ",
    * slice(tokens, i*w+1, w)))` — identical output including the single
    * empty chunk a token-less text produces there (Spark 4 interprets the
    * HOF lambdas; the kernel runs compiled). Equality asserted in OpsSpec.
    */
  def fixedChunksFast(text: String, words: Int): Seq[String] = {
    if (text == null) return null
    val t = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").filter(_.nonEmpty)
    if (t.isEmpty) Seq("")
    else t.grouped(words).map(_.mkString(" ")).toSeq
  }

  // ---- repetition signals (Gopher-family quality filters) ------------------

  /** STRICT word n-grams: empty when the doc has fewer than n tokens (no
    * catch-all shingle — a 3-word doc contributes no 5-grams, unlike
    * [[shingles]] whose catch-all serves the Jaccard estimators).
    */
  def wordGrams(text: Column, n: Int): Column = strictGrams(text, n)

  private def strictGrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val end = size(toks) - lit(n - 1)
    when(end >= 1,
      transform(sequence(lit(1), end), i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(slice(array(lit("")), 1, 0))
  }

  /** Compiled per-row twin of [[repetitionSignals]] (exact same counting
    * semantics, asserted equal in OpsSpec): returns
    * `dup_line_frac +: top-fracs ++ dup-fracs` in the declared n order.
    * Exists for STREAMING curation — the batch op is an explode + two keyed
    * aggregations, which on an unbounded stream would be stateful; this
    * kernel is a stateless projection, so the scan gates run per micro-batch
    * unchanged. (Batch pipelines keep the relational form: its partial
    * aggregation shape is the skew-safe one for giant documents.)
    */
  def repetitionSignalsFast(text: String, topNs: Seq[Int] = Seq(2, 3, 4),
                            dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): Seq[Double] = {
    val t = if (text == null) "" else text
    // mirror Spark's trim exactly: strips ' ' only, not \t/\r
    def trimSpaces(s: String): String = {
      var a = 0; var b = s.length
      while (a < b && s.charAt(a) == ' ') a += 1
      while (b > a && s.charAt(b - 1) == ' ') b -= 1
      s.substring(a, b)
    }
    val nChars = t.codePointCount(0, t.length).toLong // Spark length() = code points
    val lines = t.split("\n").map(trimSpaces).filter(_.nonEmpty)
    def cp(s: String): Long = s.codePointCount(0, s.length).toLong
    val lineChars = lines.map(cp).sum
    val dupLineChars = lineChars - lines.distinct.map(cp).sum
    val toks = t.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").filter(_.nonEmpty)
    def gramCounts(n: Int): scala.collection.Map[String, Long] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var i = 0
      while (i + n <= toks.length) {
        val g = toks.slice(i, i + n).mkString(" ")
        m.update(g, m.getOrElse(g, 0L) + 1L)
        i += 1
      }
      m
    }
    val denom = math.max(nChars, 1L).toDouble
    val dupLineFrac =
      dupLineChars.toDouble / math.max(lineChars, 1L).toDouble
    val tops = topNs.map { n =>
      val m = gramCounts(n)
      (if (m.isEmpty) 0L
       else m.iterator.map { case (g, c) => c * cp(g) }.max).toDouble / denom
    }
    val dups = dupNs.map { n =>
      gramCounts(n).iterator
        .collect { case (g, c) if c > 1 => (c - 1) * cp(g) }
        .foldLeft(0L)(_ + _).toDouble / denom
    }
    dupLineFrac +: (tops ++ dups)
  }

  /** Per-document repetition signals in the Gopher / MassiveText family
    * (Rae et al. 2021 §A1.1; same measurements as the public NeMo-Curator /
    * DataTrove repetition filters): duplicate-line character fraction and
    * top-/duplicated-n-gram character fractions, used to drop
    * boilerplate-heavy and loop-generated pages before training.
    *
    * Exact counting semantics (integer numerators are returned alongside the
    * fractions so results hash-compare exactly):
    *  - lines = newline-split, trimmed, empties dropped. A line occurring c
    *    times contributes (c-1)·len duplicate characters (occurrences after
    *    the first), over total line characters.
    *  - top-n-gram chars = max over distinct word n-grams of count·len(gram),
    *    over len(text) — the characters covered by the single most repeated
    *    n-gram (count·len is deterministic without a tie-break because only
    *    the max is reported).
    *  - dup-n-gram chars = Σ over grams with count>1 of (count-1)·len(gram),
    *    over len(text) — the repeated-occurrence mass.
    *
    * Scale shape: line stats are one codegen'd projection over the scan; all
    * requested n sizes share ONE explode → two keyed aggregations
    * (partial-agg map-side combine on (id, n, gram), then per-id conditional
    * pivot) → one id-keyed join back to the projection. No window over an
    * unbounded key, no skew risk (the count key includes the doc id).
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        topNs: Seq[Int] = Seq(2, 3, 4),
                        dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): DataFrame = {
    require(topNs.nonEmpty || dupNs.nonEmpty, "need at least one n-gram size")
    val text = col(textCol)
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")
    val lineChars = aggregate(lines, lit(0L), (a, l) => a + length(l))
    val dupLineChars =
      lineChars - aggregate(array_distinct(lines), lit(0L), (a, l) => a + length(l))
    val base = df.select(
      col(idCol),
      length(text).cast("long").as("n_chars"),
      size(lines).as("n_lines"),
      dupLineChars.as("dup_line_chars"),
      lineChars.as("line_chars"))

    val ns = (topNs ++ dupNs).distinct.sorted
    val gramStream = ns.map(n =>
      transform(strictGrams(text, n), g => struct(lit(n).as("n"), g.as("g"))))
      .reduce((a, b) => concat(a, b))
    val counts = df
      .select(col(idCol), explode(gramStream).as("ng"))
      .groupBy(col(idCol), col("ng.n").as("n"), col("ng.g").as("g"))
      .agg(count(lit(1)).as("cnt"))
    val topCols = topNs.map(n =>
      max(when(col("n") === n, col("cnt") * length(col("g")))).as(s"top${n}_gram_chars"))
    val dupCols = dupNs.map(n =>
      sum(when(col("n") === n && col("cnt") > 1, (col("cnt") - lit(1)) * length(col("g")))
        .otherwise(lit(0L))).as(s"dup${n}_gram_chars"))
    val gramAggs = counts.groupBy(col(idCol))
      .agg((topCols ++ dupCols).head, (topCols ++ dupCols).tail: _*)

    val intCols = topNs.map(n => s"top${n}_gram_chars") ++ dupNs.map(n => s"dup${n}_gram_chars")
    val joined = base.join(gramAggs, Seq(idCol), "left")
      .na.fill(0L, intCols)
    val denom = greatest(col("n_chars"), lit(1L)).cast("double")
    intCols.foldLeft(
      joined.withColumn("dup_line_frac",
        col("dup_line_chars").cast("double") /
          greatest(col("line_chars"), lit(1L)).cast("double"))) { (d, c) =>
      d.withColumn(c.stripSuffix("_chars") + "_frac", col(c).cast("double") / denom)
    }
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, the C4 build rules —
    * the most-cited web-corpus cleaning recipe): keep only lines that end in
    * terminal punctuation (. ! ? ") and have at least `minWordsPerLine`
    * words, drop lines mentioning "javascript" (cookie/JS boilerplate), and
    * drop the whole document when it contains "lorem ipsum" or a curly brace
    * (code), or when fewer than `minLines` lines survive.
    *
    * Everything is a single scan-stage projection of array HOFs over the
    * line split — no shuffle, no UDF — so at 100 TB it rides the ingest scan
    * for free and Catalyst prunes the input to (id, text). The same
    * predicates are expressible verbatim in ANSI-ish SQL (the q_c4_clean
    * DuckDB twin).
    *
    * @return one row per input doc: (id, n_lines, n_kept, dropped,
    *         clean_text) — `clean_text` is the kept lines re-joined, empty
    *         when `dropped`
    */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minWordsPerLine: Int = 5, minLines: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\r?\n")
    val kept = c4KeptLines(col(textCol), minWordsPerLine)
    val docDropped = c4DocDropped(col(textCol), kept, minLines)
    df.select(
      col(idCol),
      size(lines).as("n_lines"),
      size(kept).as("n_kept"),
      docDropped.as("dropped"),
      when(docDropped, lit("")).otherwise(array_join(kept, "\n")).as("clean_text"))
  }

  /** The C4 line keep-rule as a Column (surviving trimmed lines), reusable
    * inside other scan-stage projections ([[graft.ops.Curate]]'s optional
    * stage-0 gate composes it without a join). Lines split on `\r?\n` (CRLF
    * web text must not mass-fail the terminal-punctuation check on a
    * trailing `\r`) and words on whitespace runs, the same convention as
    * [[wordCount]]. */
  def c4KeptLines(text: Column, minWordsPerLine: Int = 5): Column =
    filter(transform(split(text, "\r?\n"), l => trim(l)), t =>
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
      size(filter(split(t, "\\s+"), w => w =!= "")) >= minWordsPerLine &&
      !contains(lower(t), lit("javascript")))

  /** The C4 whole-document drop rule as a Column over (text, kept lines). */
  def c4DocDropped(text: Column, kept: Column, minLines: Int = 3): Column =
    contains(text, lit("{")) ||
    contains(lower(text), lit("lorem ipsum")) ||
    size(kept) < minLines

  /** Blocklist document flag — the C4 recipe's other half (C4 drops any page
    * containing a word from a blocklist). TRUE per-token membership over the
    * standard pipeline tokens, not a substring scan: "grass" does not match
    * a blocklisted "ass", exactly like C4's word-boundary rule. A pure
    * scan-stage Column (array overlap against a literal), trivially
    * SQL-twinnable and fused into whatever projection carries it.
    */
  def blocklistHit(text: Column, terms: Seq[String]): Column =
    if (terms.isEmpty) lit(false)
    else arrays_overlap(tokens(text),
      lit(terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.toArray))
}
