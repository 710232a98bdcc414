package graft.ext

import graft.core.{Chain, Naming}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines (beyond
  * the reference surface — SURVEY §2.4 / north star). All are pure column
  * expressions (`functions._`, whole-stage codegen'd); no UDFs, no driver
  * actions — they scale linearly with the scan.
  */
object TextOps {
  /** Whitespace tokens of the lowercased text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric marks — a cheap proxy for subword tokenizer load.
    */
  def bpeishCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  /** Canonical fingerprint: md5 of the lowercased, whitespace-collapsed,
    * trimmed text. Stable across engines (md5 is md5).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** SQL text of [[tokens]] over a rendered column expression — the
    * fragment building block for the scalar text ops' SQL faces.
    */
  def tokensSql(c: String): String = s"split(trim(lower($c)), '\\\\s+')"

  /** SQL text of [[bpeishCount]]. */
  def bpeishCountSql(c: String): String =
    s"regexp_count(lower($c), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]')"

  /** SQL text of [[fingerprint]]. */
  def fingerprintSql(c: String): String =
    s"md5(regexp_replace(lower(trim($c)), '\\\\s+', ' '))"

  /** SQL text of [[markerCount]]: in-marker token count via a filter
    * lambda (codegen'd in Spark SQL exactly like the Column face).
    */
  def markerCountSql(c: String, markers: Seq[String]): String = {
    val arr = markers.map(m => s"'${m.replace("'", "''")}'").mkString("array(", ", ", ")")
    s"size(filter(${tokensSql(c)}, _t -> array_contains($arr, _t)))"
  }

  /** Spark-SQL text of the [[TextAnalysisOps.uniMaxAllocation]] census over
    * `{{source}}` — nested subselects, no WITH (the fragment becomes a CTE
    * body); wide intermediates in DECIMAL(38,0). (Lives here so the mix
    * apply face can embed the same census as a joined subquery.)
    */
  def umAllocSql(strata: String, tok: String, budget: Long, maxEpochs: Int): String =
    "SELECT stratum, tokens, cap, alloc, " +
      "CAST(alloc AS DECIMAL(38,0)) * 1000000 DIV tokens AS epochs_fp, " +
      "LEAST(CAST(alloc AS DECIMAL(38,0)) * 1000000 DIV tokens, 1000000L) AS keep_fp FROM (" +
      "SELECT stratum, tokens, cap, CASE WHEN _test THEN cap ELSE _q + " +
      "(CASE WHEN _seq - _m <= _r THEN 1L ELSE 0L END) END AS alloc FROM (" +
      "SELECT *, CASE WHEN _rcnt > 0 THEN _rbud DIV _rcnt ELSE 0L END AS _q, " +
      "CASE WHEN _rcnt > 0 THEN _rbud % _rcnt ELSE 0L END AS _r FROM (" +
      s"SELECT *, _k - _m AS _rcnt, ${budget}L - _cumm AS _rbud FROM (" +
      "SELECT *, SUM(CASE WHEN _test THEN 1L ELSE 0L END) OVER () AS _m, " +
      "COALESCE(SUM(CASE WHEN _test THEN cap END) OVER (), 0L) AS _cumm FROM (" +
      s"SELECT *, CAST(cap AS DECIMAL(38,0)) * (_k - _seq + 1) + (_cum - cap) <= ${budget}L AS _test FROM (" +
      "SELECT *, COUNT(*) OVER () AS _k, " +
      "ROW_NUMBER() OVER (ORDER BY cap ASC, stratum ASC) AS _seq, " +
      "SUM(cap) OVER (ORDER BY cap ASC, stratum ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum FROM (" +
      s"SELECT CAST($strata AS STRING) AS stratum, SUM(CAST($tok AS BIGINT)) AS tokens, " +
      s"SUM(CAST($tok AS BIGINT)) * ${maxEpochs}L AS cap FROM {{source}} WHERE $strata IS NOT NULL " +
      s"GROUP BY CAST($strata AS STRING) HAVING SUM(CAST($tok AS BIGINT)) > 0)))))))"

  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Per-language marker words for the n-gram/stopword language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "a", "that"),
    "es" -> Seq("el", "los", "las", "de", "y", "un", "una", "es", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "des", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  def markerCount(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => array_contains(array(markers.map(lit): _*), t)))

  /** Ordered PII redaction patterns (pattern → replacement). ASCII-shape
    * conservative; order matters (each pattern rewrites the previous
    * output — e.g. card-shaped digit runs are consumed before the looser
    * phone shapes can split them). Patterns avoid lookaround and
    * backreferences so Java regex (Spark) and RE2 (DuckDB, the oracle)
    * match identically.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "https?://[^\\s]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{13,19}\\b" -> "<CARD>",
    "\\+\\d{7,15}\\b" -> "<PHONE>",
    "\\b\\d{3}[ .-]\\d{3,4}[ .-]\\d{4}\\b" -> "<PHONE>")
}

final class TextAnalysisOps(private val c: Chain) extends AnyVal {
  import TextOps._

  /** token_count(text_col): whitespace tokens + BPE-ish subword proxy. */
  def tokenCounts(textCol: String): Chain = {
    val df2 = c.df
      .withColumn("n_tokens", size(tokens(col(textCol))))
      .withColumn("n_bpeish", bpeishCount(col(textCol)).cast("int"))
    val tc = Naming.quoteId(textCol)
    c.next("token_count", df2, Some(
      s"SELECT *, size(${tokensSql(tc)}) AS n_tokens, " +
        s"CAST(${bpeishCountSql(tc)} AS INT) AS n_bpeish FROM {{source}}"))
  }

  /** quality_score(text_col): length/punctuation/stopword heuristics with a
    * composite score in [0,1]. Exact integer-ratio arithmetic — identical
    * across engines. Emits its own `n_tokens` (subsuming [[tokenCounts]] —
    * don't compose the two over one column: the DataFrame face would
    * replace the earlier column in place while the SQL face appends a
    * duplicate name).
    */
  def qualityScore(textCol: String): Chain = {
    val txt = col(textCol)
    val nChars = length(txt).cast("double")
    val nTok = size(tokens(txt)).cast("double")
    val nPunct = (length(txt) - length(regexp_replace(txt, "[^a-zA-Z0-9\\s]", ""))).cast("double")
    val nStop = markerCount(txt, EnStopwords).cast("double")
    val df2 = c.df
      .withColumn("n_tokens", nTok.cast("int"))
      .withColumn("punct_ratio", nPunct / nChars)
      .withColumn("stopword_ratio", nStop / nTok)
      .withColumn("avg_token_len",
        length(regexp_replace(txt, "\\s+", "")).cast("double") / nTok)
      .withColumn("quality",
        least(nTok / lit(20.0), lit(1.0)) * (lit(1.0) - (nPunct / nChars)))
    val tc = Naming.quoteId(textCol)
    val nCharsS = s"CAST(length($tc) AS DOUBLE)"
    val nTokS = s"CAST(size(${tokensSql(tc)}) AS DOUBLE)"
    val nPunctS = s"CAST(length($tc) - length(regexp_replace($tc, '[^a-zA-Z0-9\\\\s]', '')) AS DOUBLE)"
    val nStopS = s"CAST(${markerCountSql(tc, EnStopwords)} AS DOUBLE)"
    c.next("quality_score", df2, Some(
      s"SELECT *, CAST($nTokS AS INT) AS n_tokens, " +
        s"$nPunctS / $nCharsS AS punct_ratio, " +
        s"$nStopS / $nTokS AS stopword_ratio, " +
        s"CAST(length(regexp_replace($tc, '\\\\s+', '')) AS DOUBLE) / $nTokS AS avg_token_len, " +
        s"LEAST($nTokS / 20.0, 1.0) * (1.0 - ($nPunctS / $nCharsS)) AS quality " +
        s"FROM {{source}}"))
  }

  /** gopher_rules(text_col, …): the Gopher/MassiveText rule-based document
    * gate (Rae et al. 2021 §A1.1 — public paper; also the C4 heuristics
    * family) as per-rule signal columns plus one boolean verdict:
    *
    *   - `gr_word_count`     whitespace words (BIGINT; 0 for blank text)
    *   - `gr_mean_word_len`  non-whitespace chars / words (null when 0 words)
    *   - `gr_symbol_ratio`   (#, …, ...) occurrences / words
    *   - `gr_bullet_ratio`   lines starting with -, * or • / lines
    *   - `gr_ellipsis_ratio` lines ending with … or ... / lines
    *   - `gr_alpha_ratio`    words containing an ASCII letter / words
    *   - `gr_stop_hits`      distinct canonical stopwords present (of
    *                         the/be/to/of/and/that/have/with, whole-word by
    *                         whitespace)
    *   - `gr_keep`           all rules pass (FALSE for null text — a null
    *                         never survives a filter, matching the
    *                         engine-wide posture)
    *
    * All signals are integer counts + one division — bit-identical across
    * engines (the reason this renders and oracles where a learned filter
    * could not). Character counts are JVM `length` semantics (UTF-16 code
    * units): an astral-plane char (emoji) counts 2 here where a
    * codepoint-counting engine counts 1 — irrelevant to the rule
    * decisions at their published thresholds, stated for oracle parity
    * (the differential corpus is BMP). Thresholds are the published
    * Gopher defaults; every one is a parameter. Scale: pure per-row
    * scalar projection — no shuffle, no UDF; the regex/LIKE scans stay
    * inside one codegen stage except the word-level lambda (`filter`),
    * which is per-document, not per-pair.
    */
  def gopherRules(
      textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.9,
      maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
      minStopHits: Int = 2): Chain = {
    val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val txt = col(textCol)
    val toks = tokens(txt)
    val wc = when(length(trim(txt)) === 0, 0L).otherwise(size(toks).cast("long"))
    // every ratio guards its denominator explicitly (CASE, not division):
    // double div-by-zero semantics differ across engines — never rely on it
    def overWords(num: Column): Column =
      when(wc > 0L, num.cast("double") / wc).otherwise(lit(null).cast("double"))
    val meanLen = overWords(length(regexp_replace(txt, "\\s+", "")))
    def occurrences(pat: String, w: Int): Column =
      ((length(txt) - length(regexp_replace(txt, pat, ""))) / w).cast("long")
    val symbols = occurrences("#", 1) + occurrences("…", 1) + occurrences("\\.\\.\\.", 3)
    val symbolRatio = overWords(symbols)
    val nLines = lit(1L) + (length(txt) - length(regexp_replace(txt, "\\n", ""))).cast("long")
    val bulletRatio = size(regexp_extract_all(txt, lit("(?m)^[ \\t]*[-*•]"), lit(0)))
      .cast("double") / nLines
    val ellipsisRatio = size(regexp_extract_all(txt, lit("(?m)(\\.\\.\\.|…)$"), lit(0)))
      .cast("double") / nLines
    val alphaRatio = overWords(size(filter(toks, w => w.rlike("[a-z]"))))
    val padded = concat(lit(" "), regexp_replace(lower(txt), "\\s+", " "), lit(" "))
    val stopHits = GopherStops.map(w =>
      when(padded.contains(s" $w "), 1L).otherwise(0L)).reduce(_ + _)
    val keep = coalesce(
      wc.between(minWords, maxWords) &&
        meanLen.between(minMeanWordLen, maxMeanWordLen) &&
        symbolRatio <= maxSymbolRatio && bulletRatio <= maxBulletRatio &&
        ellipsisRatio <= maxEllipsisRatio && alphaRatio >= minAlphaRatio &&
        stopHits >= minStopHits.toLong,
      lit(false))
    val df2 = c.df
      .withColumn("gr_word_count", wc)
      .withColumn("gr_mean_word_len", meanLen)
      .withColumn("gr_symbol_ratio", symbolRatio)
      .withColumn("gr_bullet_ratio", bulletRatio)
      .withColumn("gr_ellipsis_ratio", ellipsisRatio)
      .withColumn("gr_alpha_ratio", alphaRatio)
      .withColumn("gr_stop_hits", stopHits)
      .withColumn("gr_keep", keep)
    // ---- rendered face (Spark SQL dialect; thresholds as CAST('…' AS
    // DOUBLE) so the text face can never reparse a double as DECIMAL)
    val tc = Naming.quoteId(textCol)
    def d(v: Double) = s"CAST('$v' AS DOUBLE)"
    val wcS = s"CASE WHEN length(trim($tc)) = 0 THEN 0L ELSE CAST(size(${tokensSql(tc)}) AS BIGINT) END"
    def overWordsS(num: String) =
      s"CASE WHEN $wcS > 0 THEN CAST($num AS DOUBLE) / $wcS END"
    val meanLenS = overWordsS(s"length(regexp_replace($tc, '\\\\s+', ''))")
    def occS(pat: String, w: Int) =
      s"CAST((length($tc) - length(regexp_replace($tc, '$pat', ''))) / $w AS BIGINT)"
    val symS = s"${occS("#", 1)} + ${occS("…", 1)} + ${occS("\\\\.\\\\.\\\\.", 3)}"
    val nLinesS = s"(1 + CAST(length($tc) - length(regexp_replace($tc, '\\\\n', '')) AS BIGINT))"
    val bulletS = s"CAST(size(regexp_extract_all($tc, '(?m)^[ \\\\t]*[-*•]', 0)) AS DOUBLE) / $nLinesS"
    val ellS = s"CAST(size(regexp_extract_all($tc, '(?m)(\\\\.\\\\.\\\\.|…)\\$$', 0)) AS DOUBLE) / $nLinesS"
    val alphaS = overWordsS(s"size(filter(${tokensSql(tc)}, w -> w RLIKE '[a-z]'))")
    val paddedS = s"concat(' ', regexp_replace(lower($tc), '\\\\s+', ' '), ' ')"
    val stopS = GopherStops.map(w =>
      s"(CASE WHEN contains($paddedS, ' $w ') THEN 1L ELSE 0L END)").mkString(" + ")
    val keepS = s"COALESCE($wcS BETWEEN $minWords AND $maxWords AND " +
      s"$meanLenS BETWEEN ${d(minMeanWordLen)} AND ${d(maxMeanWordLen)} AND " +
      s"${overWordsS(symS)} <= ${d(maxSymbolRatio)} AND " +
      s"$bulletS <= ${d(maxBulletRatio)} AND $ellS <= ${d(maxEllipsisRatio)} AND " +
      s"$alphaS >= ${d(minAlphaRatio)} AND $stopS >= $minStopHits, FALSE)"
    c.next("gopher_rules", df2, Some(
      s"SELECT *, $wcS AS gr_word_count, $meanLenS AS gr_mean_word_len, " +
        s"${overWordsS(symS)} AS gr_symbol_ratio, $bulletS AS gr_bullet_ratio, " +
        s"$ellS AS gr_ellipsis_ratio, $alphaS AS gr_alpha_ratio, " +
        s"CAST($stopS AS BIGINT) AS gr_stop_hits, $keepS AS gr_keep FROM {{source}}"))
  }

  /** char_gram_coverage(id_col, text_col, n, vocab_size): in-vocabulary
    * char-n-gram fraction per document → `<col>_cov_<n>` — the
    * exactly-reproducible form of LM-perplexity quality filtering: build
    * the corpus's top-V char n-grams (the "language model"), score each
    * document by the fraction of its n-grams that are in-vocabulary.
    * Gibberish, encoding mojibake and non-prose blobs score low exactly
    * where a perplexity filter would flag them, but the score is integer
    * counts + one division — bit-identical across engines (a log-prob LM
    * is transcendental and can't hash-match an oracle).
    *
    * Scale shape: the model is a bounded-cardinality groupBy (n-gram space
    * ≪ corpus; map-side partial aggregation does the heavy lifting) + a
    * driver top-V (deterministic count-DESC, gram-ASC tiebreak); scoring
    * is one explode + broadcast left-join + per-doc count — linear, one
    * shuffle keyed by doc id. Pass a REFERENCE chain (e.g. a vetted
    * high-quality subset) as `model` to score against it instead of the
    * corpus itself.
    *
    * Non-renderable (driver top-V vocabulary is data-derived state, not a
    * SELECT over {{source}}): `sql()` raises naming this op — as do the
    * other multi-frame text ops (search/index, contamination,
    * strip_boilerplate); the scalar ops all carry SQL faces.
    */
  def charGramCoverage(idCol: String, textCol: String, n: Int = 3,
                       vocabSize: Int = 512, model: Option[Chain] = None): Chain = {
    require(n >= 1 && vocabSize >= 1, s"need n >= 1 and vocabSize >= 1, got ($n, $vocabSize)")
    def grams(df: DataFrame): DataFrame = df
      .where(length(col(textCol)) >= n)
      .select(col(idCol).as("_gid"),
        explode(sequence(lit(1), length(col(textCol)) - (n - 1))).as("_pos"),
        col(textCol))
      .select(col("_gid"), col(textCol).substr(col("_pos"), lit(n)).as("_gram"))
    val vocab = grams(model.getOrElse(c).df)
      .groupBy("_gram").agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_gram").asc)
      .limit(vocabSize)
      .select(col("_gram"), lit(1).as("_iv"))
    val scored = grams(c.df)
      .join(broadcast(vocab), Seq("_gram"), "left")
      .groupBy(col("_gid"))
      .agg(count(lit(1)).as("_total"), count(col("_iv")).as("_inv"))
    val out = c.df.join(scored, col(idCol) === col("_gid"), "left")
      .withColumn(Naming.cleanse(s"${textCol}_cov_$n"),
        coalesce(col("_inv").cast("double") / col("_total"), lit(0.0)))
      .drop("_gid", "_total", "_inv")
    c.next("char_gram_coverage", out, None)
  }

  /** lang_id(text_col): stopword-marker vote; deterministic tie-break in
    * lexicographic language order.
    */
  def langId(textCol: String): Chain = {
    val counts = LangMarkers.map { case (lg, ms) => lg -> markerCount(col(textCol), ms) }
    val pred = counts.init.zipWithIndex.foldRight(lit(counts.last._1)) {
      case (((lg, cnt), i), elseCol) =>
        val rest = counts.drop(i + 1).map(_._2)
        when(rest.foldLeft(lit(true))((acc, r) => acc && cnt >= r), lg).otherwise(elseCol)
    }
    val df2 = counts.foldLeft(c.df) { case (d, (lg, cnt)) =>
      d.withColumn(s"score_$lg", cnt)
    }.withColumn("lang_pred", pred)
    // SQL face mirrors the same fold: per-language marker-count columns
    // plus the >=-all-later-languages CASE (deterministic lexicographic
    // tie-break, identical to the Column fold above)
    val tc = Naming.quoteId(textCol)
    val countsSql = LangMarkers.map { case (lg, ms) => lg -> markerCountSql(tc, ms) }
    val predSql = countsSql.init.zipWithIndex.foldRight(s"'${countsSql.last._1}'") {
      case (((lg, cnt), i), elseS) =>
        val rest = countsSql.drop(i + 1).map(_._2)
        val cond = rest.map(r => s"$cnt >= $r").mkString(" AND ")
        s"CASE WHEN $cond THEN '$lg' ELSE $elseS END"
    }
    val scoreCols = countsSql.map { case (lg, cnt) => s"$cnt AS score_$lg" }.mkString(", ")
    c.next("lang_id", df2, Some(
      s"SELECT *, $scoreCols, $predSql AS lang_pred FROM {{source}}"))
  }

  /** fingerprint(text_col): md5 of normalized text → `<col>_fp`. */
  def fingerprintCol(textCol: String): Chain = {
    val out = Naming.cleanse(s"${textCol}_fp")
    c.next("fingerprint",
      c.df.withColumn(out, fingerprint(col(textCol))),
      Some(s"SELECT *, ${fingerprintSql(Naming.quoteId(textCol))} AS $out FROM {{source}}"))
  }

  /** rolling_fingerprint(text_col, k): Karp–Rabin min-window content
    * fingerprint → `<col>_rfp` (codegen kernel,
    * [[graft.functions.RollingFingerprint]]). A bottom-1 sketch of the
    * k-gram set: edits collide with probability ≈ shared-k-gram fraction
    * (unlike a whole-document digest, which any edit breaks); combine
    * several k values for higher-confidence grouping.
    */
  def rollingFingerprintCol(textCol: String, k: Int = 32): Chain = {
    val normalized = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val out = Naming.cleanse(s"${textCol}_rfp")
    val tc = Naming.quoteId(textCol)
    // the kernel is SQL-registered (GraftFunctions), so the face is a
    // direct function call — identical plan, codegen included
    c.next("rolling_fingerprint",
      c.df.withColumn(out, graft.functions.RollingFingerprint(normalized, k)),
      Some(s"SELECT *, rolling_fingerprint(" +
        s"regexp_replace(lower(trim($tc)), '\\\\s+', ' '), $k) AS $out FROM {{source}}"))
  }

  /** tfidf(id_col, text_col, idf): per-(document, term) weights — tf (term
    * count in the doc), df_t (documents containing the term) and the score.
    * idf = "raw" scores tf·N/df_t with exact integer-ratio arithmetic
    * (bit-identical across engines — the oracle-checked form); idf = "log"
    * scores tf·ln((N+1)/(df_t+1) + 1) (the classic smoothed variant;
    * transcendental, so approximately-equal across engines only).
    *
    * N (distinct documents) rides the plan as a broadcast one-row
    * aggregate; only the SQL face reads it on the driver, at render time
    * (the engine's compile-time-introspection pattern, reference
    * `run_query`, rendering.py:272-291). Everything else is one
    * tokenizing scan, one (doc, term) hash aggregation and a
    * term-partitioned window for df_t — linear in corpus size, no driver
    * data movement.
    */
  def tfidf(idCol: String, textCol: String, idf: String = "raw"): Chain = {
    require(Seq("raw", "log").contains(idf),
      s"unknown idf kind $idf")
    val df2 = tfidfScored(idCol, textCol, idf, pruneTerms = None)
    // SQL face: N is a literal baked at RENDER time (nextLazy — the
    // declared driver count moves off the execute path; only an actual
    // render pays it). The render stays a snapshot, exactly like one_hot's
    // discovered values: re-run the op (not the rendered text) after the
    // corpus changes.
    val ic = Naming.quoteId(idCol); val tc = Naming.quoteId(textCol)
    c.nextLazy("tfidf", df2, () => {
      val n = c.df.agg(countDistinct(col(idCol))).collect()(0).getLong(0)
      val tokSql = s"SELECT $ic AS doc_id, explode(${tokensSql(tc)}) AS term FROM {{source}}"
      val tfSql = s"SELECT doc_id, term, COUNT(1) AS tf FROM ($tokSql) GROUP BY doc_id, term"
      val scoreSql = idf match {
        case "raw" => s"CAST(tf * $n AS DOUBLE) / df_t"
        case _ => s"CAST(tf AS DOUBLE) * LN((CAST('${n.toDouble}' AS DOUBLE) + 1.0) / (CAST(df_t AS DOUBLE) + 1.0) + 1.0)"
      }
      s"SELECT doc_id, term, tf, df_t, $scoreSql AS tfidf FROM ($tfSql) " +
        s"JOIN (SELECT term, COUNT(1) AS df_t FROM ($tfSql) GROUP BY term) USING (term)"
    })
  }

  /** The ONE tfidf scoring body, shared by [[tfidf]] and
    * [[searchTfidf]]'s probe-pruned branch: tokenize ONCE → optional
    * probed-term semi-join prune → (doc, term) tf → df_t as
    * `count(*) OVER (PARTITION BY term)` over the tf frame → N as a
    * broadcast one-row aggregate → score. With `pruneTerms` set (a SMALL
    * distinct term frame — the caller proved it broadcasts), the corpus
    * token stream drops non-probed terms BEFORE the tf aggregation; df_t
    * (every doc holding a probed term survives the semi-join) and N (its
    * own corpus aggregate) are unchanged by the pruning, so scores are
    * identical. The tf frame is one (doc, term) map-side-combined
    * aggregate; df_t counts its rows per term in a window over one
    * term-keyed exchange, so the token stream is generated once. N rides the plan
    * as a broadcast one-row aggregate instead of a chain-build driver
    * collect: arithmetic is long×long then the same casts — idf = "raw"
    * is exact, "log" transcendental (the [[tfidf]] contract).
    */
  private def tfidfScored(idCol: String, textCol: String, idf: String,
                          pruneTerms: Option[DataFrame]): DataFrame = {
    val tok0 = c.df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tok = pruneTerms.fold(tok0)(t =>
      tok0.join(broadcast(t), Seq("term"), "leftsemi"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("df_t", count(lit(1)).over(Window.partitionBy(col("term"))))
    val nAgg = broadcast(c.df.agg(countDistinct(col(idCol)).as("_tfidf_n")))
    val score = idf match {
      case "raw" => (col("tf") * col("_tfidf_n")).cast("double") / col("df_t")
      case "log" => col("tf").cast("double") *
        log((col("_tfidf_n").cast("double") + 1.0) / (col("df_t").cast("double") + 1.0) + 1.0)
      case other => throw new IllegalArgumentException(s"unknown idf kind $other")
    }
    tf.crossJoin(nAgg)
      .select(col("doc_id"), col("term"), col("tf"), col("df_t"), score.as("tfidf"))
  }

  /** chunk_text(id_col, text_col, chunk_tokens, overlap): split each
    * document into fixed-size token windows with overlap — the standard
    * pre-embedding/pre-training chunking pass. One row per chunk:
    * (id, chunk_idx, chunk_text, n_chunk_tokens). Pure sequence+slice
    * explode — fan-out stays distributed, no driver involvement; a 100 TB
    * corpus chunks in one scan.
    */
  def chunkText(idCol: String, textCol: String,
                chunkTokens: Int = 128, overlap: Int = 32): Chain = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got $chunkTokens/$overlap")
    val step = chunkTokens - overlap
    val toks = tokens(col(textCol))
    val n = size(toks)
    val df2 = c.df
      .select(col(idCol), posexplode(sequence(lit(0), greatest(n - 1, lit(0)), lit(step)))
        .as(Seq("chunk_idx", "_start")), toks.as("_toks"), n.as("_n"))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ", slice(col("_toks"), col("_start") + 1, lit(chunkTokens))).as("chunk_text"),
        least(lit(chunkTokens), col("_n") - col("_start")).as("n_chunk_tokens"))
    val ic = Naming.quoteId(idCol); val tc = Naming.quoteId(textCol)
    c.next("chunk_text", df2, Some(
      s"SELECT $ic, chunk_idx, " +
        s"concat_ws(' ', slice(_toks, _start + 1, $chunkTokens)) AS chunk_text, " +
        s"LEAST($chunkTokens, _n - _start) AS n_chunk_tokens " +
        s"FROM (SELECT $ic, ${tokensSql(tc)} AS _toks, size(${tokensSql(tc)}) AS _n FROM {{source}}) " +
        s"LATERAL VIEW posexplode(sequence(0, greatest(_n - 1, 0), $step)) _c AS chunk_idx, _start"))
  }

  /** repetition_score(text_col, n): fraction of duplicated word n-grams in
    * each document (`1 − distinct/total`) → `<col>_rep_<n>` — the
    * Gopher-style repetition quality signal (boilerplate, keyword stuffing,
    * decoding loops score high). One codegen pass per row
    * ([[graft.functions.ShingleHashes]] for the distinct count); short
    * documents (< n words) score 0 by the whole-doc-shingle convention.
    */
  def repetitionScore(textCol: String, n: Int = 3): Chain = {
    val toks = tokens(col(textCol))
    val total = when(size(toks) < n, 1).otherwise(size(toks) - (n - 1))
    val rep = lit(1.0) -
      size(graft.functions.ShingleHashes(toks, n)).cast("double") / total.cast("double")
    val tc = Naming.quoteId(textCol)
    val tokS = tokensSql(tc)
    val totalS = s"CASE WHEN size($tokS) < $n THEN 1 ELSE size($tokS) - ${n - 1} END"
    c.next("repetition_score",
      c.df.withColumn(Naming.cleanse(s"${textCol}_rep_$n"), rep),
      Some(s"SELECT *, 1.0 - CAST(size(shingle_hashes($tokS, $n)) AS DOUBLE) / " +
        s"CAST($totalS AS DOUBLE) AS ${Naming.cleanse(s"${textCol}_rep_$n")} FROM {{source}}"))
  }

  /** flag_contaminated(eval, id_col, text_col, n): mark corpus documents
    * sharing any word n-gram with an evaluation set → boolean `flag_col` —
    * eval-set decontamination, the pass every benchmark-honest training
    * pipeline runs. The eval set's distinct n-gram hashes broadcast (eval
    * sets are small by construction); the corpus side is one explode +
    * broadcast semi-join — linear, no shuffle of the corpus itself. Use
    * n ≥ 8: short n-grams flag on common phrases, long ones only on real
    * verbatim leakage.
    */
  /** The shared contamination probe: flag every corpus row whose text
    * shares an n-gram hash with `evalGrams` (a one-column `_h` frame of
    * DISTINCT gram hashes). One corpus explode + broadcast semi-join —
    * linear, no corpus shuffle. Single home for the probe so the
    * one-shot and saved-index faces can never silently diverge.
    */
  private def contaminatedFlag(evalGrams: DataFrame, idCol: String,
                               textCol: String, n: Int,
                               flagCol: String): DataFrame = {
    val corpusGrams = c.df.select(col(idCol).as("_cid"),
      explode(graft.functions.ShingleHashes(tokens(col(textCol)), n)).as("_h"))
    val hit = corpusGrams.join(broadcast(evalGrams), Seq("_h"), "left_semi")
      .select(col("_cid")).distinct()
      .withColumn("_flag", lit(true))
    c.df.join(hit, col(idCol) === col("_cid"), "left")
      .withColumn(flagCol, coalesce(col("_flag"), lit(false)))
      .drop("_cid", "_flag")
  }

  def flagContaminated(eval: Chain, idCol: String, textCol: String, n: Int = 8,
                       flagCol: String = "contaminated"): Chain = {
    val evalGrams = eval.df
      .select(explode(graft.functions.ShingleHashes(tokens(col(textCol)), n)).as("_h"))
      .distinct()
    c.next("flag_contaminated",
      contaminatedFlag(evalGrams, idCol, textCol, n, flagCol), None)
  }

  /** contamination_index(text_col, n): the PERSISTENT half of
    * incremental eval-set decontamination — the eval suite's distinct
    * word-n-gram hash set as a one-column frame (`gram_hash`), the
    * fourth member of the save-once index family (minhash postings,
    * tf-idf postings, IVF cells). Save once with `save(name)` (or
    * `saveBucketed(name, Seq("gram_hash"), b)` for a blocklist-sized
    * suite); every corpus batch then probes the STORED set with
    * [[flagContaminatedIndex]] instead of re-tokenizing and re-hashing
    * the eval suite per run, and a NEW eval task appends its grams with
    * `saveAppend` instead of rebuilding (duplicate hashes across appends
    * are harmless — the probe re-distincts defensively, a bounded
    * aggregate over the index side only).
    */
  def contaminationIndex(textCol: String, n: Int = 8): Chain =
    c.next("contamination_index", c.df
      .select(explode(graft.functions.ShingleHashes(tokens(col(textCol)), n))
        .as("gram_hash"))
      .distinct(), None)

  /** flag_contaminated_index(index, id_col, text_col, n): the probe half
    * — [[flagContaminated]] against a saved [[contaminationIndex]] frame
    * (`spark.table(name)`), output-identical when the index covers the
    * same eval set (oracle-equal by construction; same n REQUIRED — the
    * hashes embed the shingle width). The corpus side is unchanged: one
    * explode + broadcast semi-join, linear, no corpus shuffle. For a
    * blocklist-sized index that no longer broadcasts comfortably, use
    * [[flagContaminatedBloom]] — the Bloom fold + exact confirm is the
    * big-blocklist scale path.
    */
  def flagContaminatedIndex(index: DataFrame, idCol: String, textCol: String,
                            n: Int = 8,
                            flagCol: String = "contaminated"): Chain = {
    require(index.columns.contains("gram_hash"),
      s"index must have a gram_hash column from contaminationIndex; " +
        s"got ${index.columns.mkString(", ")}")
    val evalGrams = index.select(col("gram_hash").as("_h")).distinct()
    c.next("flag_contaminated_index",
      contaminatedFlag(evalGrams, idCol, textCol, n, flagCol), None)
  }

  /** contamination_score(eval, id, text, n): the graded form of
    * [[flagContaminated]] — per document, the FRACTION of its distinct
    * word n-grams that appear anywhere in the eval set →
    * `contamination_<n>` ∈ [0, 1]. A boolean flag treats one shared
    * boilerplate phrase and a verbatim eval copy identically; the
    * fraction is what a decontamination policy actually thresholds
    * ("drop > 10% overlap, audit 1–10%"). Scale shape: ONE corpus scan —
    * grams hashed scan-side (codegen [[graft.functions.ShingleHashes]],
    * already distinct per doc), each gram flagged against the broadcast
    * distinct eval-gram set by a left join, and BOTH counts (total,
    * hits) fall out of a single doc-keyed aggregate. A two-branch
    * total/hit formulation re-scans and re-hashes the corpus (the
    * semi-join pushes below any shared barrier, defeating exchange
    * reuse) — at corpus scale the scan is the expensive part.
    */
  def contaminationScore(eval: Chain, idCol: String, textCol: String, n: Int = 8,
                         scoreCol: String = ""): Chain = {
    val out = if (scoreCol.nonEmpty) scoreCol else Naming.cleanse(s"contamination_$n")
    val evalGrams = eval.df
      .select(explode(graft.functions.ShingleHashes(tokens(col(textCol)), n)).as("_h"))
      .distinct()
      .withColumn("_hit", lit(1))
    val corpusGrams = c.df.select(col(idCol).as("_cid"),
      explode(graft.functions.ShingleHashes(tokens(col(textCol)), n)).as("_h"))
    // eval grams are distinct, so the left join matches each corpus gram
    // at most once — count(_hit) = grams shared with the eval set
    val stats = corpusGrams.join(broadcast(evalGrams), Seq("_h"), "left")
      .groupBy(col("_cid"))
      .agg(count(lit(1)).as("_t"), count(col("_hit")).as("_hits"))
    val df2 = c.df.join(stats, col(idCol) === col("_cid"), "left")
      .withColumn(out, coalesce(col("_hits").cast("double") / col("_t"), lit(0.0)))
      .drop("_cid", "_t", "_hits")
    c.next("contamination_score", df2, None)
  }

  /** flag_contaminated_bloom: same OUTPUT as [[flagContaminated]], scaled
    * for a large blocklist. The exact variant ships the eval set's full
    * n-gram hash list to every task — right when eval sets are small.
    * When the "eval set" is a big blocklist (10⁸+ n-grams), the scale
    * shape is: (1) fold the eval grams into ONE mergeable Bloom filter
    * binary (Spark's join runtime-filter aggregate, reused here as a
    * first-class operator), (2) test every corpus gram MAP-SIDE with
    * `might_contain` — the corpus never shuffles and survivors are
    * ~fpp × grams, (3) confirm survivors against the exact eval-gram set,
    * removing Bloom false positives — so the result stays bit-identical
    * to the exact variant while per-task memory drops from the gram list
    * (8 B × items + hash-table overhead) to the Bloom's ~1.2 bytes/item
    * and corpus-side join input drops to the contaminated fraction.
    * `expectedItems` sizes the filter (~3% fpp at the default bits/item);
    * oversizing costs bits, undersizing only costs extra confirm work —
    * correctness never depends on it.
    */
  def flagContaminatedBloom(eval: Chain, idCol: String, textCol: String, n: Int = 8,
                            flagCol: String = "contaminated",
                            expectedItems: Long = 4000000L): Chain = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val evalGrams = eval.df
      .select(explode(graft.functions.ShingleHashes(tokens(col(textCol)), n)).as("_h"))
      .distinct()
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(GraftBridge.expression(col("_h")), expectedItems)
        .toAggregateExpression())
    // one small binary to the driver — a sketch of the eval set, not data;
    // embedded as a literal exactly like Spark's own injected runtime filters
    val bloomBytes = graft.core.CheckpointProbe.scalars(evalGrams, "_bf" -> bloomAgg).head
      .asInstanceOf[Array[Byte]]
    val df2 =
      if (bloomBytes == null) // empty eval set: nothing can be contaminated
        c.df.withColumn(flagCol, lit(false))
      else {
        val mightContain = GraftBridge.column(new BloomFilterMightContain(
          GraftBridge.expression(lit(bloomBytes)), GraftBridge.expression(col("_h"))))
        val candidates = c.df
          .select(col(idCol).as("_cid"),
            explode(graft.functions.ShingleHashes(tokens(col(textCol)), n)).as("_h"))
          .where(mightContain)
        val hit = candidates.join(broadcast(evalGrams), Seq("_h"), "left_semi")
          .select(col("_cid")).distinct()
          .withColumn("_flag", lit(true))
        c.df.join(hit, col(idCol) === col("_cid"), "left")
          .withColumn(flagCol, coalesce(col("_flag"), lit(false)))
          .drop("_cid", "_flag")
      }
    c.next("flag_contaminated_bloom", df2, None)
  }

  /** pack_sequences(token_col, budget, order_by, partition_by): assign each
    * row to a training pack so every pack holds ~`budget` tokens — the
    * batch-assembly pass between chunking and the training loader. The
    * pack id is offset binning over the running token total in a
    * deterministic order: `pack_id = floor(cumulative_exclusive / budget)`
    * — engine-portable (exact `SUM OVER` SQL face), and at most one
    * straddling row per boundary (items are ≪ budget in practice; strict
    * first-fit greedy is inherently sequential and buys back only that
    * straddle). `partition_by` scopes packing (e.g. per language/source) so
    * each group packs independently.
    *
    * Scale shape: the DataFrame face computes the running total with
    * [[graft.core.PrefixScan.exclusivePrefixSum]] — a range-partitioned
    * sort plus broadcast per-partition offsets — NOT a window. The pack
    * grouping key is typically a handful of languages/sources (or empty),
    * so `SUM OVER (PARTITION BY lang ...)` would funnel an entire
    * source's rows through ONE sort task at corpus scale; the SQL face
    * keeps the window text because a rendering engine re-plans it for its
    * own scale.
    */
  def packSequences(tokenCol: String, budget: Long,
                    orderBy: Seq[String], partitionBy: Seq[String] = Nil): Chain = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(orderBy.nonEmpty, "packSequences needs a deterministic order")
    require(!c.df.columns.contains("pack_id"),
      "pack_sequences: column 'pack_id' already exists on the chain")
    // integral tokens only: the prefix sums accumulate as longs (exact,
    // association-free) and the SQL face's SUM OVER must mean the same
    // thing — a fractional token estimate would silently truncate per
    // row on one face and sum natively on the other
    val tdt = c.df.schema(tokenCol).dataType
    require(tdt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }, s"pack_sequences: token column '$tokenCol' must be integral, got " +
      s"${tdt.simpleString} — quantize fractional token estimates deliberately first")
    val pref = graft.core.PrefixScan.exclusivePrefixSum(
      c.df, partitionBy.map(col), orderBy.map(col), col(tokenCol), "_ps_cum")
    val cumBefore = col("_ps_cum")
    val df2 = pref.withColumn("pack_id", floor(cumBefore / budget))
      .select((c.df.columns.toSeq :+ "pack_id").map(col): _*)
    val overSql = (if (partitionBy.isEmpty) ""
      else s"PARTITION BY ${partitionBy.mkString(", ")} ") +
      s"ORDER BY ${orderBy.mkString(", ")} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    c.next("pack_sequences", df2, Some(
      s"SELECT *, CAST(FLOOR(COALESCE(SUM($tokenCol) OVER ($overSql), 0) / $budget) AS BIGINT) " +
        s"AS pack_id FROM {{source}}"))
  }

  /** pack_sequences_tokens(text_col, budget, order_by, partition_by): the
    * token-budget face of [[packSequences]] — pack boundaries track
    * SUBWORD load ([[TextOps.bpeishCount]]'s letter-run/digit-run/mark
    * proxy), the unit a real pretraining loader packs by, instead of raw
    * chars (a char budget over-packs dense-punctuation or CJK text whose
    * subword expansion is far from 1 token ≈ 5 chars). Emits the per-row
    * count as `pack_tokens` plus the same offset-binned `pack_id`; the
    * counting is one codegen regexp pass fused into the scan, the binning
    * the same [[graft.core.PrefixScan]] pass as [[packSequences]] (range
    * sort + broadcast offsets, never a low-domain window) — no extra
    * shuffle over the char face.
    */
  def packSequencesByTokens(textCol: String, budget: Long,
                            orderBy: Seq[String],
                            partitionBy: Seq[String] = Nil): Chain = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(orderBy.nonEmpty, "packSequencesByTokens needs a deterministic order")
    require(!c.df.columns.contains("pack_tokens"),
      "pack_sequences_tokens: column 'pack_tokens' already exists on the chain")
    require(!c.df.columns.contains("pack_id"),
      "pack_sequences_tokens: column 'pack_id' already exists on the chain")
    val df1 = c.df.withColumn("pack_tokens",
      bpeishCount(col(textCol)).cast("bigint"))
    val pref = graft.core.PrefixScan.exclusivePrefixSum(
      df1, partitionBy.map(col), orderBy.map(col), col("pack_tokens"), "_ps_cum")
    val cumBefore = col("_ps_cum")
    val df2 = pref.withColumn("pack_id", floor(cumBefore / budget))
      .select((df1.columns.toSeq :+ "pack_id").map(col): _*)
    val overSql = (if (partitionBy.isEmpty) ""
      else s"PARTITION BY ${partitionBy.mkString(", ")} ") +
      s"ORDER BY ${orderBy.mkString(", ")} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    val tc = Naming.quoteId(textCol)
    c.next("pack_sequences_tokens", df2, Some(
      s"SELECT *, CAST(FLOOR(COALESCE(SUM(pack_tokens) OVER ($overSql), 0) / $budget) AS BIGINT) " +
        s"AS pack_id FROM (SELECT *, CAST(${bpeishCountSql(tc)} AS BIGINT) AS pack_tokens FROM {{source}})"))
  }

  /** scrub_text(text_col): redact URLs then emails → `<col>_clean` — the
    * standard PII/noise pass before training-data use. Pure regexp_replace
    * (codegen'd, linear scan).
    */
  def scrubText(textCol: String): Chain = {
    val url = "https?://[^\\s]+"
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val cleaned = regexp_replace(
      regexp_replace(col(textCol), url, "<URL>"), email, "<EMAIL>")
    val tc = Naming.quoteId(textCol)
    val out = Naming.cleanse(s"${textCol}_clean")
    val sqlExpr = s"REGEXP_REPLACE(REGEXP_REPLACE($tc, '${url.replace("\\", "\\\\")}', '<URL>'), " +
      s"'${email.replace("\\", "\\\\")}', '<EMAIL>')"
    c.next("scrub_text",
      c.df.withColumn(out, cleaned),
      Some(s"SELECT *, $sqlExpr AS $out FROM {{source}}"))
  }

  /** search_tfidf(queries, id, text, query_id, query_text, k): sparse
    * lexical retrieval — the inverted-index complement of the dense ANN
    * ops. Documents score against every query they share a term with:
    * score = Σ_terms tf_query × tfidf_doc, then top-k per query
    * (score DESC, doc ASC tiebreak). Scale shape: both sides explode to
    * (id, term) and meet in ONE term-keyed equi-join — the classic
    * posting-list intersection; no pair enumeration beyond shared terms,
    * partial aggregation before the (query, doc) shuffle, and the
    * accumulation runs in exact decimals so rankings reproduce under any
    * partitioning. `idf = "raw"` is the cross-engine-exact form
    * ([[tfidf]]); "log" is the classic smoothed variant.
    *
    * Rendering: the tfidf scoring renders a SQL face that pins the query
    * set as a VALUES literal (the [[graft.ops.AggOps.scoreLogistic]]
    * model-render pattern) joined against the [[tfidf]] face — computed
    * only when someone actually renders (capped at 10k query-term rows,
    * loud beyond). bm25 is documented non-renderable: its N/avgdl
    * statistics are a declared driver fit.
    */
  def searchTfidf(queries: Chain, idCol: String, textCol: String,
                  queryIdCol: String, queryTextCol: String, k: Int = 10,
                  idf: String = "raw", scoring: String = "tfidf",
                  k1: Double = 1.2, b: Double = 0.75): Chain = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qt = queries.df
      .select(col(queryIdCol).as("query_id"),
        explode(tokens(col(queryTextCol))).as("term"))
      .groupBy(col("query_id"), col("term")).agg(count(lit(1)).as("_qtf"))
    // render-time SQL face (tfidf scoring only): the pinned query set
    // collects into a VALUES literal — the scoreLogistic model-render
    // pattern — joined against the tfidf face of {{source}}. DEFERRED via
    // nextLazy: the execute path must not pay the query-set collect; only
    // an actual render does, capped and loud. bm25 stays non-renderable
    // (driver-fit N/avgdl statistics and transcendental scoring are
    // documented as the DataFrame face's job).
    var renderFace: Option[() => String] = None
    val scored = scoring match {
      case "tfidf" =>
        val docChain = tfidf(idCol, textCol, idf)
        val qidT = queries.df.schema(queryIdCol).dataType.sql
        renderFace = Some(() => {
          val tfidfFrag = docChain.steps.last.sqlText.get
          val maxRenderQueries = 10000
          val qRows = qt.limit(maxRenderQueries + 1).collect()
          if (qRows.length > maxRenderQueries) throw new UnsupportedOperationException(
            s"search_tfidf render: query set exceeds $maxRenderQueries (query_id, term) rows — " +
              "a VALUES literal that large is not a usable query text; use the DataFrame face")
          if (qRows.isEmpty) throw new UnsupportedOperationException(
            "search_tfidf render: the query set is empty — nothing to pin into a VALUES literal")
          val vals = qRows.map { r =>
            s"(CAST(${graft.core.Naming.sqlLiteral(r.get(0))} AS $qidT), " +
              s"${graft.core.Naming.sqlLiteral(r.getString(1))}, CAST(${r.getLong(2)} AS BIGINT))"
          }.mkString(", ")
          val qtSql = s"SELECT query_id, term, _qtf FROM (VALUES $vals) AS _q(query_id, term, _qtf)"
          val scSql = s"SELECT query_id, doc_id, " +
            s"${graft.core.Exact.sumSql("_qtf * tfidf")} AS score " +
            s"FROM ($qtSql) JOIN ($tfidfFrag) USING (term) GROUP BY query_id, doc_id"
          s"SELECT query_id, doc_id, score, rank FROM (SELECT *, " +
            s"CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) " +
            s"AS rank FROM ($scSql)) WHERE rank <= $k"
        })
        // Probe pruning (round 17, the searchTfidfIndex shape brought to
        // the one-shot face): when the QUERY batch's plan-statistics size
        // says its distinct term list broadcasts safely
        // ([[SimilarityOps.fitsBroadcast]] — the maybeBroadcastProbes
        // gate), drop non-probed terms from the token stream BEFORE the
        // (doc, term) tf aggregation. Only probed terms can survive the
        // qt join anyway, and both df_t (all docs holding a probed term
        // survive the semi-join) and N (the separate corpus aggregate)
        // are unchanged by term pruning — so scores are identical while
        // the corpus-side exchange carries probed terms only instead of
        // the whole vocabulary. An unsized/huge query batch keeps the
        // full-tfidf join plan (pruning via a SHUFFLED semi-join would
        // move the raw token stream, more bytes than the aggregated tf).
        // The probe list reads qt's `_qtf` (every (query, term) group
        // counts >= 1, so the filter keeps every term): that keeps qt's
        // aggregate whole under column pruning, so both consumers plan
        // the same tokenizing exchange and the query batch is tokenized
        // once instead of once per consumer.
        if (SimilarityOps.fitsBroadcast(queries.df, 1))
          tfidfScored(idCol, textCol, idf,
            pruneTerms = Some(qt.where(col("_qtf") > 0L).select(col("term")).distinct()))
            .join(qt, Seq("term"))
            .groupBy(col("query_id"), col("doc_id"))
            .agg(graft.core.Exact.sum(col("_qtf") * col("tfidf")).as("score"))
        else
          qt.join(docChain.df, Seq("term"))
            .groupBy(col("query_id"), col("doc_id"))
            .agg(graft.core.Exact.sum(col("_qtf") * col("tfidf")).as("score"))
      case "bm25" =>
        // Okapi BM25 (Robertson–Spärck Jones): the retrieval scoring real
        // ranked search expects — idf'd terms with saturating tf and
        // doc-length normalization. k1 = tf saturation, b = length
        // normalization. Transcendental (log), so approximately-equal
        // across engines: the ranking is spec-gated (rank agreement vs the
        // raw scoring), not hash-oracled.
        require(k1 > 0 && b >= 0 && b <= 1, s"bm25 needs k1 > 0, b in [0,1]; got k1=$k1 b=$b")
        val tok = c.df.select(col(idCol).as("doc_id"),
          explode(tokens(col(textCol))).as("term"))
        // N and avgdl from ONE bounded declared driver read (a single row):
        // avgdl = Σ dl / N = total token rows / distinct docs, so both
        // statistics fall out of the same aggregate over the token stream
        val statsRow = tok.agg(countDistinct(col("doc_id")).as("_n"),
          count(lit(1)).as("_t")).collect()(0)
        val n = statsRow.getLong(0)
        val avgdl = statsRow.getLong(1).toDouble / n
        // shuffle discipline (plan-audited): the doc-keyed barrier serves
        // BOTH the (doc,term) tf aggregate (doc partitioning satisfies the
        // clustered distribution) and the doc-length window — dl rides the
        // tf frame instead of forcing a term→doc→term join detour; then
        // ONE term repartition serves the df aggregate and both term joins
        val tfDl = tok.repartition(col("doc_id"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
          .withColumn("_dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
          .repartition(col("term"))
        val dft = tfDl.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
        val idfCol = log(lit(1.0) +
          (lit(n.toDouble) - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5)))
        val tfNorm = (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / lit(avgdl)))
        tfDl.join(dft, Seq("term")).join(qt, Seq("term"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(graft.core.Exact.sum(col("_qtf") * idfCol * tfNorm).as("score"))
      case other => throw new IllegalArgumentException(
        s"search_tfidf scoring must be tfidf or bm25, got $other")
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val out = scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
    renderFace.fold(c.next("search_tfidf", out, None))(fn =>
      c.nextLazy("search_tfidf", out, fn))
  }

  /** rrf_fuse(other, k, k_const): reciprocal-rank fusion of TWO ranked
    * retrieval lists (Cormack, Clarke & Buettcher, SIGIR 2009) — the
    * standard hybrid-retrieval closer (lexical + semantic, tf-idf + BM25):
    * per (query, doc), `rrf = Σ 1/(k_const + rank_side)`, a document
    * absent from one list contributes 0 from that side; re-rank per query
    * (rrf DESC, doc_id ASC) and keep the fused top-k. Rank-based by
    * design, so the two sides' score SCALES never need calibrating; the
    * fused score is a fixed two-term IEEE sum of exact divisions —
    * engine-portable with no quantization step.
    *
    * Scale: one (query, doc)-keyed full-outer hash join of two already-
    * top-k'd lists (each side ≤ its own k rows per query), then a window
    * whose per-query frame is bounded by k_a + k_b — every stage is keyed
    * by the query id, nothing global. Two-frame op — non-renderable, the
    * diffAgainst posture.
    */
  def rrfFuse(other: Chain, k: Int = 10, kConst: Int = 60,
              queryCol: String = "query_id", idCol: String = "doc_id",
              rankCol: String = "rank"): Chain = {
    require(k >= 1, s"rrf_fuse needs k >= 1, got $k")
    require(kConst >= 1, s"rrf_fuse needs k_const >= 1, got $kConst")
    def side(df: DataFrame, tag: String) =
      df.select(col(queryCol).as("query_id"), col(idCol).as("doc_id"),
        col(rankCol).cast("int").as(s"_r$tag"))
    val j = side(c.df, "a")
      .join(side(other.df, "b"), Seq("query_id", "doc_id"), "full_outer")
    def contrib(rc: Column) =
      coalesce(lit(1.0) / (lit(kConst.toDouble) + rc.cast("double")), lit(0.0))
    val scored = j.withColumn("rrf", contrib(col("_ra")) + contrib(col("_rb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    val out = scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select("query_id", "doc_id", "rrf", "rank")
    c.next("rrf_fuse", out, None)
  }

  /** rrf_fuse_weighted(others, self_weight, k, k_const): the WEIGHTED,
    * N-WAY generalization of [[rrfFuse]] — hybrid retrieval rarely stops
    * at two signals (lexical + semantic + recency + popularity), and the
    * signals rarely deserve equal trust. This chain is list 0 with weight
    * `selfWeight`; each `(chain, weight)` in `others` contributes
    * `w_i / (k_const + rank_i)` per (query, doc), absent-from-a-list
    * contributing 0 from that side (the standard weighted-RRF extension
    * of Cormack, Clarke & Buettcher, SIGIR 2009). The fused score is a
    * FIXED left-associated IEEE sum of the N exact-division terms — the
    * fold order is the argument order, so the result is deterministic
    * and engine-portable with no quantization step (the two-list face's
    * posture, generalized); re-rank per query (rrf DESC, doc_id ASC),
    * keep the fused top-k.
    *
    * Scale: N − 1 (query, doc)-keyed full-outer hash joins of already-
    * top-k'd lists — each side ≤ its own k rows per query, so every
    * intermediate is bounded by Σ k_i rows per query — then one window
    * whose per-query frame is bounded by Σ k_i; every stage is keyed by
    * the query id, nothing global. List count is code, not data. Multi-
    * frame op — non-renderable, the diffAgainst posture.
    */
  def rrfFuseWeighted(others: Seq[(Chain, Double)], selfWeight: Double = 1.0,
                      k: Int = 10, kConst: Int = 60,
                      queryCol: String = "query_id", idCol: String = "doc_id",
                      rankCol: String = "rank"): Chain = {
    require(others.nonEmpty, "rrf_fuse_weighted needs at least one other list")
    require(k >= 1, s"rrf_fuse_weighted needs k >= 1, got $k")
    require(kConst >= 1, s"rrf_fuse_weighted needs k_const >= 1, got $kConst")
    val weights = selfWeight +: others.map(_._2)
    require(weights.forall(w => w > 0.0 && !w.isNaN && !w.isInfinite),
      s"rrf_fuse_weighted weights must be finite and > 0, got $weights")
    val sides = ((c, selfWeight) +: others).zipWithIndex.map {
      case ((ch, wgt), i) =>
        ch.df.select(col(queryCol).as("query_id"), col(idCol).as("doc_id"),
          (lit(wgt) / (lit(kConst.toDouble) + col(rankCol).cast("double")))
            .as(s"_c$i"))
    }
    val joined = sides.tail.foldLeft(sides.head)((acc, side) =>
      acc.join(side, Seq("query_id", "doc_id"), "full_outer"))
    val rrf = sides.indices
      .map(i => coalesce(col(s"_c$i"), lit(0.0)))
      .reduceLeft(_ + _) // fixed left-assoc fold: deterministic IEEE sum
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    val out = joined.withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select("query_id", "doc_id", "rrf", "rank")
    c.next("rrf_fuse_weighted", out, None)
  }

  /** tfidf_index(id, text): the persistent half of INCREMENTAL lexical
    * retrieval — the corpus's term-keyed posting list `(term, doc_id, tf)`,
    * the third member of the save-once index family (minhash postings
    * [[graft.ext.DedupOps.minhashIndex]], IVF cells
    * [[graft.ext.SimilarityOps]]). Save once with
    * `saveBucketed(name, Seq("term"), n)`; every probe then reads the
    * index already term-partitioned (no index-side shuffle —
    * spec-asserted), and ingest APPENDS each new batch's postings with
    * `saveAppend` instead of re-indexing history. The idf statistics (df
    * per term, N documents) are intentionally NOT persisted: the probe
    * derives df from the very posting rows it already reads and N from one
    * column-pruned distinct count — so after every append the metadata is
    * fresh BY CONSTRUCTION, with no refresh step to forget or race.
    */
  def tfidfIndex(idCol: String, textCol: String): Chain = {
    val tok = c.df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    c.next("tfidf_index", tf, None)
  }

  /** search_tfidf_index(index, query_id, query_text, k): the probe half —
    * this chain is the QUERY set; `index` is a [[tfidfIndex]] frame or the
    * saved bucketed table (`spark.table(name)`). Scores and ranks exactly
    * like [[searchTfidf]] with `idf = "raw"` over the indexed corpus
    * (oracle-equal when the index covers the same corpus).
    *
    * Scale shape: the distinct query-term list broadcasts onto the index
    * scan (prunes the postings to probed terms with NO index-side
    * exchange), df-per-term aggregates on the SAME term-bucketed
    * distribution the table layout already satisfies, and only the pruned
    * postings ever shuffle toward the (query, doc) aggregation. N (corpus
    * size) is one column-pruned distinct count — a bounded declared
    * driver read.
    */
  def searchTfidfIndex(index: DataFrame, queryIdCol: String, queryTextCol: String,
                       k: Int = 10): Chain = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(Seq("term", "doc_id", "tf").forall(index.columns.contains),
      s"index must have columns (term, doc_id, tf) from tfidfIndex; got ${index.columns.mkString(", ")}")
    val n = index.agg(countDistinct(col("doc_id"))).collect()(0).getLong(0)
    val qt = c.df
      .select(col(queryIdCol).as("query_id"),
        explode(tokens(col(queryTextCol))).as("term"))
      .groupBy(col("query_id"), col("term")).agg(count(lit(1)).as("_qtf"))
    // prune the index to probed terms via a broadcast semi-join: the
    // bucketed index side keeps its layout (no exchange above the scan)
    val probed = index.join(broadcast(qt.select(col("term")).distinct()), Seq("term"))
    // df per probed term counts the full posting list of that term — the
    // rows this probe reads anyway; on a term-bucketed table the groupBy's
    // required distribution is already satisfied by the layout
    val dft = probed.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val tfidfCol = (col("tf") * lit(n)).cast("double") / col("df_t")
    val scored = probed.join(dft, Seq("term")).join(qt, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(graft.core.Exact.sum(col("_qtf") * tfidfCol).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val out = scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
    c.next("search_tfidf_index", out, None)
  }

  /** normalize_text(text_col): canonicalize text BEFORE any hash sees it
    * — NFC unicode normalization, optional accent strip (NFD + combining
    * marks removed + NFC), optional lowercase, whitespace collapsed to
    * single spaces and trimmed → `<col>_norm`. Two strings that render
    * identically must fingerprint identically: exact dedup, shingle
    * hashes and tokenizers all assume a canonical byte form, and web text
    * mixes precomposed and combining-mark encodings freely. Pure codegen
    * column expressions ([[graft.functions.UnicodeNormalize]] + built-in
    * regexps) — scan-side linear, no shuffle.
    */
  /** strip_boilerplate(id, text, group_by, max_doc_frac, min_docs, sep):
    * remove SEGMENTS (default: lines) that repeat across more than
    * `maxDocFrac` of the documents in the same group (site / source /
    * domain) — the C4-style header/footer/nav cleaner. A segment is
    * boilerplate within its group when it appears in ≥ `minDocs` documents
    * AND in more than `maxDocFrac` of them; empty segments never qualify
    * (they are document structure, not boilerplate). Adds `<text>_clean`
    * (surviving segments re-joined in original order; null text stays
    * null) and `<text>_n_stripped`.
    *
    * Scale shape: one explode (linear in segments), a distinct-doc count
    * per (group, segment-hash) with map-side combine, a per-group doc
    * count (tiny, AQE-broadcast), one join back and one regroup by
    * (group, document) — ids need only be unique WITHIN their group (a
    * doc_id reused under two sources stays two documents; the regroup and
    * rejoin both key on group ++ id) — no quadratic stage, nothing
    * driver-side. Join keys are
    * xxhash64 of the segment, so the shuffles move fixed-width longs, not
    * text (hash equality stands in for segment equality — same declared
    * trade as the shingle plumbing).
    */
  def stripBoilerplate(idCol: String, textCol: String, groupBy: Seq[String],
                       maxDocFrac: Double = 0.5, minDocs: Int = 2,
                       sep: String = "\n"): Chain = {
    require(groupBy.nonEmpty, "strip_boilerplate needs group columns (site/source)")
    require(maxDocFrac > 0 && maxDocFrac <= 1,
      s"maxDocFrac must be in (0, 1], got $maxDocFrac")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val segs = c.df.select(
      (col(idCol).as("_sb_id") +: groupBy.map(col) :+
        posexplode(split(col(textCol), sepRe)).as(Seq("_sb_pos", "_sb_seg"))): _*)
      .withColumn("_sb_k", xxhash64(col("_sb_seg")))
    val docFreq = segs.where(col("_sb_seg") =!= "")
      .select((groupBy.map(col) :+ col("_sb_k") :+ col("_sb_id")): _*)
      .distinct()
      .groupBy((groupBy.map(col) :+ col("_sb_k")): _*)
      .agg(count(lit(1)).as("_sb_df"))
    val groupDocs = c.df.select((groupBy.map(col) :+ col(idCol).as("_sb_id")): _*)
      .distinct()
      .groupBy(groupBy.map(col): _*).agg(count(lit(1)).as("_sb_n"))
    val boiler = docFreq.join(groupDocs, groupBy)
      .where(col("_sb_df") >= minDocs &&
        col("_sb_df") > col("_sb_n") * lit(maxDocFrac))
      .select((groupBy.map(col) :+ col("_sb_k")): _*)
      .withColumn("_sb_boiler", lit(true))
    val marked = segs.join(boiler, groupBy :+ "_sb_k", "left")
    val cleanName = graft.core.Naming.cleanse(s"${textCol}_clean")
    val strippedName = graft.core.Naming.cleanse(s"${textCol}_n_stripped")
    // collect_list skips the nulls the `when` leaves for boilerplate rows;
    // array_sort on struct(pos, seg) restores the original segment order
    // regroup on group ++ id, not id alone: a doc_id repeated under two
    // groups would otherwise merge both docs' segments into one cleaned
    // text and fan out the final left join
    val perDoc = marked.groupBy((groupBy.map(col) :+ col("_sb_id")): _*).agg(
      concat_ws(sep, transform(
        array_sort(collect_list(when(col("_sb_boiler").isNull,
          struct(col("_sb_pos").as("p"), col("_sb_seg").as("s"))))),
        e => e.getField("s"))).as(cleanName),
      sum(when(col("_sb_boiler").isNotNull, 1).otherwise(0)).as(strippedName))
    val joinCond = groupBy.foldLeft(c.df(idCol) === perDoc("_sb_id")) {
      (acc, g) => acc && (c.df(g) <=> perDoc(g))
    }
    val joined = c.df.join(perDoc, joinCond, "left")
    val df2 = groupBy.foldLeft(joined)((d, g) => d.drop(perDoc(g)))
      .drop("_sb_id")
    c.next("strip_boilerplate", df2, None)
  }

  def normalizeText(textCol: String, lowercase: Boolean = true,
                    stripAccents: Boolean = true): Chain = {
    import org.apache.spark.sql.GraftBridge
    def norm(cl: Column, form: String): Column =
      GraftBridge.column(
        graft.functions.UnicodeNormalize(GraftBridge.expression(cl), form))
    var x: Column = norm(col(textCol), "NFC")
    if (stripAccents)
      x = norm(regexp_replace(norm(x, "NFD"), "\\p{M}+", ""), "NFC")
    if (lowercase) x = lower(x)
    x = trim(regexp_replace(x, "\\s+", " "))
    // SQL face via the registered unicode_normalize kernel, mirroring the
    // same flag-dependent composition
    var xS = s"unicode_normalize(${Naming.quoteId(textCol)}, 'NFC')"
    if (stripAccents)
      xS = s"unicode_normalize(regexp_replace(unicode_normalize($xS, 'NFD'), '\\\\p{M}+', ''), 'NFC')"
    if (lowercase) xS = s"lower($xS)"
    xS = s"trim(regexp_replace($xS, '\\\\s+', ' '))"
    val out = Naming.cleanse(s"${textCol}_norm")
    c.next("normalize_text",
      c.df.withColumn(out, x),
      Some(s"SELECT *, $xS AS $out FROM {{source}}"))
  }

  /** scrub_pii(text_col): redact URLs, emails, IPv4 addresses, SSN-shaped
    * ids, card-shaped digit runs, then phone-shaped numbers → `<col>_clean`
    * — the fuller PII pass production corpora run before training. Fixed
    * application order (each pattern sees the previous one's output), pure
    * `regexp_replace` chain: codegen'd, linear, pushes nothing to the
    * driver. Patterns are deliberately conservative ASCII shapes — a
    * recall-tuned PII model can replace them, but the plumbing (ordered
    * rewrite chain, engine-portable SQL face) is what the engine owns.
    */
  /** canonicalize_urls(url_col): crawl-pipeline URL canonicalization →
    * `<col>_canon` — the normalization pass before canonical-URL dedup
    * (`dedupExact` on the output column): the same page fetched as
    * `HTTP://Example.com:80/a?utm_source=feed#frag` and
    * `http://example.com/a` must collapse to one key. Steps, in order:
    * trim; lowercase the scheme+authority prefix only (paths are
    * case-sensitive per RFC 3986, the authority is not — userinfo is
    * lowercased with it, documented); strip the `#fragment`; strip
    * default ports (`:80` on http, `:443` on https — non-default ports
    * survive); strip tracking query params (`utm_*`, `fbclid`, `gclid`)
    * wherever they sit, fixing the separator and dropping a left-over
    * bare `?`. Query-param ORDER is preserved, not sorted (sorting
    * changes semantics on duplicate keys; document order is already
    * deterministic). Non-URL text (no `scheme://` prefix) passes through
    * with only trim/fragment/param rules applying — harmless on prose,
    * exact on relative links. Null stays null.
    *
    * Pure per-row scalar regexp chain — codegen, no UDF, no shuffle; the
    * patterns avoid lookarounds so Java (Spark) and RE2 (the DuckDB
    * oracle) agree, and every face is driver-oracled on a planted fixture
    * covering each rule.
    */
  def canonicalizeUrls(urlCol: String): Chain = {
    val out = Naming.cleanse(s"${urlCol}_canon")
    // (pattern, replacement) applied in order; $N refs are rewritten to
    // \N for the DuckDB face by the oracle author — keep refs simple
    val u0 = trim(col(urlCol))
    val prefix = regexp_extract(u0, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    val lowered = concat(lower(prefix), u0.substr(length(prefix) + lit(1), length(u0)))
    val steps: Seq[(String, String)] = Seq(
      "#.*" -> "",                                               // fragment
      "^(http://[^/?#:]*):80([/?#].*)?$" -> "$1$2",              // default port
      "^(https://[^/?#:]*):443([/?#].*)?$" -> "$1$2",
      "&(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*" -> "",          // non-first tracking
      "\\?(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*&?" -> "?",     // first tracking
      "\\?$" -> ""                                               // left-over bare ?
    )
    val cleaned = steps.foldLeft(lowered) {
      case (acc, (pat, repl)) => regexp_replace(acc, pat, repl)
    }
    val tc = Naming.quoteId(urlCol)
    val prefS = s"regexp_extract(trim($tc), '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)"
    val lowS = s"concat(lower($prefS), substring(trim($tc), length($prefS) + 1))"
    val sqlExpr = steps.foldLeft(lowS) {
      case (acc, (pat, repl)) =>
        s"regexp_replace($acc, '${pat.replace("\\", "\\\\")}', '$repl')"
    }
    c.next("canonicalize_urls",
      c.df.withColumn(out, cleaned),
      Some(s"SELECT *, $sqlExpr AS ${Naming.quoteId(out)} FROM {{source}}"))
  }

  def scrubPii(textCol: String): Chain = {
    val out = Naming.cleanse(s"${textCol}_clean")
    val cleaned = TextOps.PiiPatterns.foldLeft(col(textCol)) {
      case (acc, (pattern, repl)) => regexp_replace(acc, pattern, repl)
    }
    val sqlExpr = TextOps.PiiPatterns.foldLeft(Naming.quoteId(textCol)) {
      case (acc, (pattern, repl)) =>
        s"REGEXP_REPLACE($acc, '${pattern.replace("\\", "\\\\")}', '$repl')"
    }
    c.next("scrub_pii",
      c.df.withColumn(out, cleaned),
      Some(s"SELECT *, $sqlExpr AS ${Naming.quoteId(out)} FROM {{source}}"))
  }

  /** mix_by_token_budget(strata_col, token_col, budgets, key_cols): cap
    * each stratum (source/language/domain) at a token budget — the corpus
    * mixing pass that rebalances dominant sources before training. Each
    * stratum's total tokens come from ONE bounded, declared driver
    * aggregate (rows = distinct strata, the compile-time-introspection
    * pattern); strata over budget keep a deterministic hash fraction
    * `budget/total` of rows, strata under budget stay whole, strata not
    * listed keep `defaultFraction`. The survival predicate is the same
    * layout- and engine-independent md5 threshold as [[sample_hash]] —
    * pure pushed-down predicate, reproducible at any cluster size (the
    * budget is hit in expectation: E[kept tokens] = budget).
    */
  def mixByTokenBudget(strataCol: String, tokenCol: String,
                       budgets: Seq[(String, Long)], keyCols: Seq[String],
                       defaultFraction: Double = 1.0): Chain = {
    require(budgets.nonEmpty, "mix_by_token_budget needs at least one stratum budget")
    budgets.foreach { case (v, b) => require(b >= 0L, s"budget for '$v' must be >= 0, got $b") }
    val totals = c.df
      .groupBy(col(strataCol).cast("string").as("_s"))
      .agg(sum(col(tokenCol).cast("long")).as("_tot"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    val fractions = budgets.map { case (v, b) =>
      val tot = totals.getOrElse(v, 0L)
      v -> (if (tot <= b) 1.0 else b.toDouble / tot)
    }
    import graft.ops._
    val mixed = c.sampleHashStratified(strataCol, fractions, keyCols, defaultFraction)
    // keep the op name honest in the rendered chain: the physical predicate
    // is stratified hash sampling, the logical op is the budget mix
    c.next("mix_by_token_budget", mixed.df, mixed.steps.last.sqlFragment)
  }

  /** mix_by_temperature(strata_col, token_col, alpha, total_budget,
    * key_cols): temperature-based corpus mixing — each stratum's token
    * budget is proportional to `tokens^alpha`, normalized so the whole mix
    * targets `totalBudget` tokens (the multilingual sampling standard:
    * alpha < 1 upweights low-resource strata, alpha = 1 is proportional).
    * Execution is the same layout- and engine-independent stratified
    * md5-threshold predicate as [[mixByTokenBudget]]; per-stratum totals
    * come from ONE bounded, declared driver aggregate.
    *
    * Determinism across engines: weights are quantized to
    * `floor(tokens^alpha · 2^20)` and summed as exact integers, so the
    * normalizer is independent of summation order; the per-stratum
    * fraction is a fixed chain of IEEE double ops. At alpha = 0.5 the
    * power is computed with `sqrt` (correctly rounded per IEEE-754, so
    * bit-identical in any engine — the oracle-checked setting); other
    * alphas use `pow`, which libms only guarantee to ~1 ulp, so
    * cross-engine reproducibility there is approximate at the fraction's
    * last bit. Strata with a null key or zero tokens drop.
    */
  def mixByTemperature(strataCol: String, tokenCol: String, alpha: Double,
                       totalBudget: Long, keyCols: Seq[String]): Chain = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(totalBudget > 0L, s"totalBudget must be positive, got $totalBudget")
    val totals = c.df
      .groupBy(col(strataCol).cast("string").as("_s"))
      .agg(sum(col(tokenCol).cast("long")).as("_tot"))
      .collect()
      .flatMap(r => Option(r.getString(0)).map(s =>
        s -> (if (r.isNullAt(1)) 0L else r.getLong(1))))
      .filter(_._2 > 0L)
      .sortBy(_._1)
    require(totals.nonEmpty, "mix_by_temperature found no stratum with tokens")
    def power(t: Double): Double =
      if (alpha == 0.5) math.sqrt(t)
      else if (alpha == 1.0) t
      else math.pow(t, alpha)
    val wq = totals.map { case (s, t) =>
      s -> math.floor(power(t.toDouble) * 1048576.0).toLong
    }.toMap
    val wsum = wq.values.sum
    require(wsum > 0L, "mix_by_temperature: quantized weights sum to zero")
    val fractions = totals.map { case (s, t) =>
      s -> math.min(1.0,
        totalBudget.toDouble * wq(s).toDouble / t.toDouble / wsum.toDouble)
    }.toSeq
    import graft.ops._
    val mixed = c.sampleHashStratified(strataCol, fractions, keyCols, 0.0)
    c.next("mix_by_temperature", mixed.df, mixed.steps.last.sqlFragment)
  }

  /** unimax_allocation(strata_col, token_col, total_budget, max_epochs):
    * UniMax corpus allocation (Chung et al., ICLR 2023) — distribute a
    * total token budget across strata as uniformly as possible while
    * capping any stratum's repetition at `maxEpochs` epochs. Unlike
    * [[mixByTokenBudget]] (caller supplies per-stratum budgets) and
    * [[mixByTemperature]] (power-law weights), the budgets here are
    * DERIVED: water-filling over caps `cap_g = tokens_g · maxEpochs`,
    * which the sorted-prefix closed form turns into pure window algebra —
    * sort strata by cap ascending, a stratum is fully capped iff
    * `cap_i · (k−i+1) + cum_{i−1} ≤ B` (the prefix property: caps
    * ascending means the tests are monotone), the rest split the leftover
    * evenly with the integer remainder going to the smallest strata in
    * sort order. ALL integer arithmetic (wide intermediates in
    * DECIMAL(38,0)), so the allocation is a pure function of the
    * per-stratum totals — bit-identical across engines and partitionings.
    *
    * Output: one row per stratum — `tokens`, `cap`, `alloc` (allocated
    * tokens), `epochs_fp` (alloc/tokens in ppm: >1e6 = repetition),
    * `keep_fp` (min(epochs_fp, 1e6): the survival fraction [[mixUniMax]]
    * samples by). Scale shape: ONE map-side-combined aggregate at stratum
    * cardinality, then PrefixScan positions/prefix sums over the census
    * with the global terms as broadcast one-row aggregates (no
    * whole-frame window — discovered strata can be domain-grain) — zero
    * driver reads, fully renderable (the SQL face keeps the window
    * algebra). Declared eager: the census materializes at construction
    * (the PrefixScan posture).
    */
  def uniMaxAllocation(strataCol: String, tokenCol: String,
                       totalBudget: Long, maxEpochs: Int = 4): Chain = {
    umRequire("unimax_allocation", strataCol, tokenCol, totalBudget, maxEpochs)
    c.next("unimax_allocation", umAllocDf(strataCol, tokenCol, totalBudget, maxEpochs),
      Some(TextOps.umAllocSql(Naming.quoteId(strataCol), Naming.quoteId(tokenCol),
        totalBudget, maxEpochs)))
  }

  /** mix_unimax(strata_col, token_col, total_budget, max_epochs,
    * key_cols): apply the [[uniMaxAllocation]] — each row joins its
    * stratum's allocation (broadcast, #strata rows) and survives the
    * same content-hash predicate as [[graft.ops.JoinOps.sampleHash]]
    * with the stratum's derived `keep_fp` fraction (fully-allocated
    * strata keep every row); survivors carry `mix_epochs_fp` so the
    * training loader knows each stratum's repetition factor. The
    * predicate is layout/engine-independent (md5 threshold, integer
    * fraction), the join is a broadcast of the stratum census — the
    * corpus is scanned twice (once for totals, once for the filter),
    * which at 100 TB is the unavoidable two-pass of any derived-budget
    * mix; persist the allocation face to amortize across runs.
    */
  def mixUniMax(strataCol: String, tokenCol: String, totalBudget: Long,
                maxEpochs: Int, keyCols: Seq[String]): Chain = {
    umRequire("mix_unimax", strataCol, tokenCol, totalBudget, maxEpochs)
    require(keyCols.nonEmpty, "mix_unimax needs key columns")
    keyCols.foreach(k => require(c.df.columns.contains(k),
      s"mix_unimax: chain is missing key column '$k'"))
    require(!c.df.columns.contains("mix_epochs_fp"),
      "mix_unimax: column 'mix_epochs_fp' already exists on the chain")
    val alloc = umAllocDf(strataCol, tokenCol, totalBudget, maxEpochs)
      .select(col("stratum").as("_um_stratum"), col("keep_fp").as("_um_keepfp"),
        col("epochs_fp").as("_um_epochsfp"))
    val key = concat_ws("|", keyCols.map(col(_).cast("string")): _*)
    // keep_fp is ppm; 1152921504606 = 16^15 DIV 10^6, so the threshold is
    // the 15-hex-digit prefix bound of keep_fp/1e6 (the sampleHash regime,
    // fraction computed engine-side). Whole-keep strata bypass the hash so
    // keep_fp = 1e6 keeps EXACTLY everything, not 1 - 7e-10 of it.
    val th = format_string("%015x", col("_um_keepfp") * lit(1152921504606L))
    val df2 = c.df
      .join(broadcast(alloc), col(strataCol).cast("string") === col("_um_stratum"))
      .where(col("_um_keepfp") >= 1000000L || md5(key) < th)
      .withColumn("mix_epochs_fp", col("_um_epochsfp"))
      .drop("_um_stratum", "_um_keepfp", "_um_epochsfp")
    val sc = Naming.quoteId(strataCol)
    val keySql = s"concat_ws('|', ${keyCols.map(k => s"CAST(${Naming.quoteId(k)} AS STRING)").mkString(", ")})"
    c.next("mix_unimax", df2, Some(
      s"SELECT _um_src.*, _um_a.epochs_fp AS mix_epochs_fp " +
        s"FROM {{source}} _um_src JOIN (${TextOps.umAllocSql(sc, Naming.quoteId(tokenCol), totalBudget, maxEpochs)}) _um_a " +
        s"ON CAST(_um_src.$sc AS STRING) = _um_a.stratum " +
        s"WHERE _um_a.keep_fp >= 1000000 OR md5($keySql) < " +
        s"printf('%015x', _um_a.keep_fp * 1152921504606L)"))
  }

  private def umRequire(op: String, strataCol: String, tokenCol: String,
                        totalBudget: Long, maxEpochs: Int): Unit = {
    Seq(strataCol, tokenCol).foreach(n => require(c.df.columns.contains(n),
      s"$op: chain is missing column '$n'"))
    require(totalBudget > 0L, s"$op: totalBudget must be positive, got $totalBudget")
    require(maxEpochs >= 1 && maxEpochs <= 1000,
      s"$op: maxEpochs must be in [1, 1000], got $maxEpochs")
  }

  /** DataFrame face of the water-filling census (see [[uniMaxAllocation]]
    * for the algebra). Kept in the value class: pure column expressions.
    */
  private def umAllocDf(strataCol: String, tokenCol: String,
                        totalBudget: Long, maxEpochs: Int): org.apache.spark.sql.DataFrame = {
    // the stratum census is DISCOVERED (distinct strataCol values), so at
    // domain-grain mixes it can be large: positions and cap prefix sums
    // ride ONE multi-weight PrefixScan over the census (range-sorted,
    // materialized once) and the global terms (_k, then the capped
    // count/mass, which depend on the per-row water-filling test) arrive
    // as one-row aggregates over the same checkpoint, broadcast back via
    // crossJoin — NO whole-frame window anywhere. Identical integers to
    // the window formulation; declared eager (the PrefixScan posture).
    // The SQL face (umAllocSql) keeps the window text for rendering
    // engines.
    val base = c.df.where(col(strataCol).isNotNull)
      .groupBy(col(strataCol).cast("string").as("stratum"))
      .agg(sum(col(tokenCol).cast("long")).as("tokens"))
      .where(col("tokens") > 0)
      .withColumn("cap", col("tokens") * lit(maxEpochs.toLong))
    val scanned = graft.core.PrefixScan.exclusivePrefixSums(base, Nil,
      Seq(col("cap").asc, col("stratum").asc),
      Seq(lit(1L) -> "_seq0", col("cap") -> "_cume"))
    val tested = scanned
      .crossJoin(broadcast(scanned.agg(count(lit(1)).as("_k"))))
      .withColumn("_seq", col("_seq0") + lit(1L))
      .withColumn("_cum", col("_cume") + col("cap"))
      .withColumn("_test",
        expr(s"CAST(cap AS DECIMAL(38,0)) * (_k - _seq + 1) + (_cum - cap) <= ${totalBudget}L"))
    tested
      .crossJoin(broadcast(tested.agg(
        coalesce(sum(when(col("_test"), lit(1L)).otherwise(lit(0L))), lit(0L)).as("_m"),
        coalesce(sum(when(col("_test"), col("cap"))), lit(0L)).as("_cumm"))))
      .withColumn("_rcnt", col("_k") - col("_m"))
      .withColumn("_rbud", lit(totalBudget) - col("_cumm"))
      .withColumn("_q", when(col("_rcnt") > 0, expr("_rbud DIV _rcnt")).otherwise(lit(0L)))
      .withColumn("_r", when(col("_rcnt") > 0, col("_rbud") % col("_rcnt")).otherwise(lit(0L)))
      .withColumn("alloc", when(col("_test"), col("cap"))
        .otherwise(col("_q") +
          when(col("_seq") - col("_m") <= col("_r"), lit(1L)).otherwise(lit(0L))))
      .withColumn("epochs_fp", expr("CAST(alloc AS DECIMAL(38,0)) * 1000000 DIV tokens"))
      .withColumn("keep_fp", least(col("epochs_fp"), lit(1000000L)))
      .select("stratum", "tokens", "cap", "alloc", "epochs_fp", "keep_fp")
  }

  /** epoch_shuffle(seed, key_cols): deterministic global shuffle for a
    * training epoch — every row gets `epoch_pos` = md5(seed ‖ key) and the
    * corpus is range-sorted by it. Seeded: epoch 2 is a different but
    * reproducible permutation; content-keyed: the order is independent of
    * layout, partition count and engine (the property a resumable training
    * run needs). The sort is Spark's range-partitioned exchange — no
    * single-node pass; downstream writes preserve the order per file.
    */
  def epochShuffle(seed: Long, keyCols: Seq[String]): Chain = {
    require(keyCols.nonEmpty, "epoch_shuffle needs key columns")
    val key = concat_ws("|", lit(seed.toString) +: keyCols.map(col(_).cast("string")): _*)
    val df2 = c.df.withColumn("epoch_pos", md5(key)).orderBy(col("epoch_pos"))
    val keySql = (s"'$seed'" +: keyCols.map(k => s"CAST(${Naming.quoteId(k)} AS STRING)"))
      .mkString(", ")
    c.next("epoch_shuffle", df2, Some(
      s"SELECT *, md5(concat_ws('|', $keySql)) AS epoch_pos FROM {{source}} ORDER BY epoch_pos"))
  }

  /** corpus_overlap(other, text_col, other_text_col): exact overlap
    * census between two corpora at normalized-fingerprint grain
    * ([[TextOps.fingerprint]]: md5 of lowercased, whitespace-collapsed
    * text) — ONE row: `n_left` / `n_right` (distinct fingerprints per
    * side), `n_common`, and `jaccard_fp` (ppm fixed point, floor) — the
    * dataset-overlap report run before mixing two corpora or comparing
    * crawl snapshots (how much of B is already in A). Exact, not a
    * sketch: each side reduces to DISTINCT 32-char fingerprints (one
    * exchange each, ~32 bytes/row — no text ever shuffles), the common
    * count is one fingerprint equi-join, and the three one-row
    * aggregates cross-join broadcast. Renderable (two-source face, like
    * the set operators). Jaccard is integer ppm so the census
    * hash-matches across engines; an empty union reads 0.
    */
  def corpusOverlap(other: Chain, textCol: String,
                    otherTextCol: String = ""): Chain = {
    val rightCol = if (otherTextCol.isEmpty) textCol else otherTextCol
    require(c.df.columns.contains(textCol),
      s"corpus_overlap: left chain is missing column '$textCol'")
    require(other.df.columns.contains(rightCol),
      s"corpus_overlap: right chain is missing column '$rightCol'")
    val lf = c.df.where(col(textCol).isNotNull)
      .select(fingerprint(col(textCol)).as("_fp")).distinct()
    val rf = other.df.where(col(rightCol).isNotNull)
      .select(fingerprint(col(rightCol)).as("_fp")).distinct()
    val nl = lf.agg(count(lit(1)).as("n_left"))
    val nr = rf.agg(count(lit(1)).as("n_right"))
    val nc = lf.join(rf, Seq("_fp"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    val df2 = nl.crossJoin(nr).crossJoin(nc)
      .withColumn("jaccard_fp",
        expr("CASE WHEN n_left + n_right - n_common > 0 THEN " +
          "n_common * 1000000L DIV (n_left + n_right - n_common) ELSE 0L END"))
    val lq = Naming.quoteId(textCol)
    val rq = Naming.quoteId(rightCol)
    def fpSel(src: String, cn: String) =
      s"SELECT DISTINCT ${fingerprintSql(cn)} AS _fp FROM $src WHERE $cn IS NOT NULL"
    val rightSrc = if (other.steps.isEmpty) other.entryName else s"(${other.sql()})"
    c.next("corpus_overlap", df2, Some(
      "SELECT *, CASE WHEN n_left + n_right - n_common > 0 THEN " +
        "n_common * 1000000L DIV (n_left + n_right - n_common) ELSE 0L END AS jaccard_fp " +
        s"FROM (SELECT COUNT(*) AS n_left FROM (${fpSel("{{source}}", lq)})) " +
        s"CROSS JOIN (SELECT COUNT(*) AS n_right FROM (${fpSel(rightSrc, rq)})) " +
        s"CROSS JOIN (SELECT COUNT(*) AS n_common FROM (${fpSel("{{source}}", lq)}) l " +
        s"WHERE EXISTS (SELECT 1 FROM (${fpSel(rightSrc, rq)}) r WHERE r._fp = l._fp))"))
  }

  /** corpus_overlap_by_group(other, group_by, text_col, other_text_col):
    * the per-group face of [[corpusOverlap]] — one row per left-side
    * group (source/lang/domain) with `n_left` (distinct fingerprints in
    * the group), `n_common` (of those, present anywhere in the
    * reference corpus `other`), and `contained_fp` (ppm containment
    * n_common/n_left — per-group CONTAINMENT, not Jaccard, is the
    * report shape here: "how much of each domain is already in the
    * reference"). Scale: left reduces to distinct (group, fp) pairs,
    * right to distinct fp, ONE fingerprint equi-join marks presence,
    * one group aggregate closes — text never shuffles. Null-keyed
    * groups are kept (null is a real group in a census); groups are
    * compared against the WHOLE reference.
    */
  def corpusOverlapByGroup(other: Chain, groupBy: Seq[String], textCol: String,
                           otherTextCol: String = ""): Chain = {
    require(groupBy.nonEmpty, "corpus_overlap_by_group needs group columns")
    Seq("_fp", "_hit", "n_left", "n_common", "contained_fp").foreach(r =>
      require(!groupBy.contains(r),
        s"corpus_overlap_by_group: group column '$r' collides with an internal/output name"))
    val rightCol = if (otherTextCol.isEmpty) textCol else otherTextCol
    (groupBy :+ textCol).foreach(n => require(c.df.columns.contains(n),
      s"corpus_overlap_by_group: left chain is missing column '$n'"))
    require(other.df.columns.contains(rightCol),
      s"corpus_overlap_by_group: right chain is missing column '$rightCol'")
    val lf = c.df.where(col(textCol).isNotNull)
      .select(groupBy.map(col) :+ fingerprint(col(textCol)).as("_fp"): _*)
      .distinct()
    val rf = other.df.where(col(rightCol).isNotNull)
      .select(fingerprint(col(rightCol)).as("_fp")).distinct()
      .withColumn("_hit", lit(1L))
    val df2 = lf.join(rf, Seq("_fp"), "left")
      .groupBy(groupBy.map(col): _*)
      .agg(count(lit(1)).as("n_left"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_common"))
      .withColumn("contained_fp",
        expr("CASE WHEN n_left > 0 THEN n_common * 1000000L DIV n_left ELSE 0L END"))
    val gq = groupBy.map(Naming.quoteId)
    val lq = Naming.quoteId(textCol)
    val rq = Naming.quoteId(rightCol)
    val rightSrc = if (other.steps.isEmpty) other.entryName else s"(${other.sql()})"
    c.next("corpus_overlap_by_group", df2, Some(
      s"SELECT ${gq.mkString(", ")}, n_left, n_common, " +
        "CASE WHEN n_left > 0 THEN n_common * 1000000L DIV n_left ELSE 0L END AS contained_fp " +
        s"FROM (SELECT ${gq.mkString(", ")}, COUNT(*) AS n_left, " +
        "COALESCE(SUM(_hit), 0L) AS n_common FROM (" +
        s"SELECT DISTINCT ${gq.mkString(", ")}, ${fingerprintSql(lq)} AS _fp " +
        s"FROM {{source}} WHERE $lq IS NOT NULL) l LEFT JOIN (" +
        s"SELECT DISTINCT ${fingerprintSql(rq)} AS _fp, 1L AS _hit " +
        s"FROM $rightSrc WHERE $rq IS NOT NULL) r ON l._fp = r._fp " +
        s"GROUP BY ${gq.mkString(", ")})"))
  }

  /** interleave_by_weight(group_col, weights, order_by): deterministic
    * proportional interleave of sources into a training order — stride
    * scheduling: the i-th row of source g gets
    * `interleave_key = (i · 10^6) DIV w_g`, so ordering by the key makes
    * each source appear in proportion to its integer weight from the very
    * start of the stream (weight 3 : 1 means three rows of the heavy
    * source between consecutive light-source rows, not a concatenation —
    * the property a mixed-corpus loader needs so early training steps
    * already see the target mix). Groups without a listed weight DROP
    * (weight 0) — the mix contract, like [[graft.ops.JoinOps
    * .sampleHashStratified]]'s default fraction.
    *
    * All-integer key arithmetic: the order is a pure function of
    * (group, within-group order), identical across engines and
    * partitionings. The within-group position comes from
    * [[graft.core.PrefixScan.exclusivePrefixSum]] (range sort +
    * broadcast partition offsets) — with a handful of listed sources, a
    * `ROW_NUMBER OVER (PARTITION BY source)` window would put each
    * ENTIRE source through one sort task at corpus scale (the SQL face
    * keeps that window text for rendering engines to re-plan). The
    * global order is the consumer's range sort on the key (the
    * [[epochShuffle]] regime: the emitted key is per-row computable,
    * ties break by group then order columns).
    */
  def interleaveByWeight(groupCol: String, weights: Seq[(String, Long)],
                         orderBy: Seq[String]): Chain = {
    require(weights.nonEmpty, "interleave_by_weight needs at least one weight")
    require(orderBy.nonEmpty, "interleave_by_weight needs a deterministic order")
    weights.foreach { case (v, w) => require(w >= 1L && w <= 1000000L,
      s"weight for '$v' must be in [1, 1e6], got $w") }
    require(weights.map(_._1).distinct.size == weights.size,
      s"interleave_by_weight groups repeat: ${weights.map(_._1)}")
    Seq("interleave_key", "_il_w", "_il_pos").foreach(n =>
      require(!c.df.columns.contains(n),
        s"interleave_by_weight: column '$n' already exists on the chain"))
    val wExpr = weights.foldRight(lit(null).cast("long")) { case ((v, wt), acc) =>
      when(col(groupCol).cast("string") === v, lit(wt)).otherwise(acc)
    }
    val key = expr("CAST(_il_pos AS BIGINT) * 1000000L DIV _il_w")
    val ord = col("interleave_key").asc +: col(groupCol).cast("string").asc +:
      orderBy.map(col(_).asc)
    val df1 = c.df
      .withColumn("_il_w", wExpr)
      .where(col("_il_w").isNotNull)
    val pref = graft.core.PrefixScan.exclusivePrefixSum(
      df1, Seq(col(groupCol).cast("string")), orderBy.map(col), lit(1L), "_il_pos0")
    val df2 = pref
      .withColumn("_il_pos", col("_il_pos0") + lit(1L))
      .withColumn("interleave_key", key)
      .select((c.df.columns.toSeq :+ "interleave_key").map(col): _*)
      .orderBy(ord: _*)
    val gq = Naming.quoteId(groupCol)
    val caseSql = weights.map { case (v, wt) =>
      s"WHEN CAST($gq AS STRING) = '${v.replace("'", "''")}' THEN ${wt}L"
    }.mkString("CASE ", " ", " ELSE NULL END")
    val obSql = orderBy.map(Naming.quoteId).mkString(", ")
    c.next("interleave_by_weight", df2, Some(
      "SELECT * EXCEPT (_il_w, _il_pos) FROM (SELECT *, " +
        "CAST(_il_pos AS BIGINT) * 1000000L DIV _il_w AS interleave_key FROM (" +
        s"SELECT *, $caseSql AS _il_w, ROW_NUMBER() OVER (" +
        s"PARTITION BY CAST($gq AS STRING) ORDER BY $obSql) AS _il_pos " +
        s"FROM {{source}}) WHERE _il_w IS NOT NULL) " +
        s"ORDER BY interleave_key, CAST($gq AS STRING), $obSql"))
  }

  /** dedup_exact(id_col, text_col): keep one row per normalized-text
    * fingerprint — the smallest id wins. One shuffle on the fingerprint.
    */
  def dedupExact(idCol: String, textCol: String): Chain = {
    val fp = fingerprint(col(textCol))
    val w = Window.partitionBy(fp).orderBy(col(idCol).asc)
    val cols = c.df.columns.toSeq
    val df2 = c.df.withColumn("_graft_rn", row_number().over(w))
      .where(col("_graft_rn") === 1)
      .select(cols.map(col): _*)
    val fpS = fingerprintSql(Naming.quoteId(textCol))
    c.next("dedup_exact", df2, Some(
      s"SELECT * EXCEPT (_graft_rn) FROM (SELECT *, ROW_NUMBER() OVER (" +
        s"PARTITION BY $fpS ORDER BY ${Naming.quoteId(idCol)} ASC) AS _graft_rn " +
        s"FROM {{source}}) WHERE _graft_rn = 1"))
  }

  /** count_pattern(text_col, patterns): one `n_<name>` count column per
    * named regex — the generic pattern census behind entity counting and
    * format profiling (digits, emails, URLs, code fences, bullet lines:
    * whatever the corpus audit needs). Non-overlapping match counting;
    * null text → null counts. Keep patterns RE2-safe (character classes,
    * alternation, quantifiers — no lookarounds/backrefs) so the same
    * pattern means the same thing in every engine that consumes the SQL
    * face.
    *
    * Pure projection over codegen'd `regexp_count` — no shuffle, no UDF;
    * cost is linear in text length per pattern.
    */
  def countPattern(textCol: String, patterns: Seq[(String, String)]): Chain = {
    require(patterns.nonEmpty, "count_pattern needs at least one named pattern")
    require(patterns.map(_._1).distinct.size == patterns.size,
      s"count_pattern names repeat: ${patterns.map(_._1)}")
    val df2 = patterns.foldLeft(c.df) { case (d, (name, pat)) =>
      d.withColumn(s"n_$name", regexp_count(col(textCol), lit(pat)).cast("long"))
    }
    val patSql = patterns.map { case (name, pat) =>
      s"CAST(regexp_count(${Naming.quoteId(textCol)}, '${pat.replace("'", "''")}') AS BIGINT) AS n_$name"
    }
    c.next("count_pattern", df2, Some(
      s"SELECT *, ${patSql.mkString(", ")} FROM {{source}}"))
  }

  /** extract_pattern(text_col, pattern, groups): named capture-group
    * extraction — one string column per (name, group-index), the
    * structured-field puller behind "lift the date / id / version out of
    * this semi-structured text". No match and null text both yield NULL
    * (the faces normalize through NULLIF, which also irons out the
    * engines' ''-vs-NULL disagreement on missing matches); group 0 is the
    * whole match. Keep patterns RE2-safe (the [[countPattern]] rule) so
    * the SQL face means the same thing everywhere. Invalid group indexes
    * fail loudly at evaluation (Spark checks against the pattern's group
    * count).
    *
    * Pure projection over codegen'd `regexp_extract` — no shuffle, pushes
    * through scans.
    */
  def extractPattern(textCol: String, pattern: String,
                     groups: Seq[(String, Int)]): Chain = {
    require(groups.nonEmpty, "extract_pattern needs at least one named group")
    require(groups.map(_._1).distinct.size == groups.size,
      s"extract_pattern names repeat: ${groups.map(_._1)}")
    require(groups.forall(_._2 >= 0),
      s"extract_pattern group indexes must be >= 0, got $groups")
    val df2 = groups.foldLeft(c.df) { case (d, (name, idx)) =>
      val x = regexp_extract(col(textCol), pattern, idx)
      d.withColumn(name, when(x === lit(""), lit(null).cast("string")).otherwise(x))
    }
    val pat = pattern.replace("'", "''")
    val gSql = groups.map { case (name, idx) =>
      s"NULLIF(regexp_extract(${Naming.quoteId(textCol)}, '$pat', $idx), '') AS $name"
    }
    c.next("extract_pattern", df2, Some(
      s"SELECT *, ${gSql.mkString(", ")} FROM {{source}}"))
  }

  /** top_ngrams(text_col, n, k, group_by): the corpus n-gram frequency
    * census — the top-k most frequent token n-grams with their counts
    * (per group when `groupBy` is set), ordered count-desc then ngram-asc
    * (deterministic at the k boundary). The diagnostic behind boilerplate
    * discovery, contamination screening and "what is this corpus actually
    * made of". Tokens are the engine-standard whitespace tokens of the
    * lowercased text ([[TextOps.tokens]]); every OCCURRENCE counts (this
    * is a frequency census, not the per-doc distinct shingle set the
    * Jaccard miners use); docs with fewer than n tokens (and null/blank
    * docs) contribute nothing.
    *
    * Scale: explode → ONE hash aggregate with map-side partial combine
    * (the shuffle carries (ngram, partial count), not token streams) →
    * global top-k via TakeOrderedAndProject resp. a per-group rank window
    * over the aggregated (small) frame. No driver-side work beyond the
    * k-row result.
    */
  def topNgrams(textCol: String, n: Int, k: Int,
                groupBy: Seq[String] = Nil): Chain = {
    require(n >= 1 && n <= 8, s"top_ngrams needs n in [1, 8], got $n")
    require(k >= 1, s"top_ngrams needs k >= 1, got $k")
    val toks = TextOps.tokens(col(textCol))
    val grams = TopNgramsShared.gramsExpr(toks, n)
    val exploded = c.df
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0 &&
        size(toks) >= n)
      .select((groupBy.map(col) :+ explode(grams).as("ngram")): _*)
    val counts = exploded.groupBy((groupBy.map(col) :+ col("ngram")): _*)
      .agg(count(lit(1)).as("cnt"))
    val df2 =
      if (groupBy.isEmpty)
        counts.orderBy(col("cnt").desc, col("ngram").asc).limit(k)
      else {
        val w = Window.partitionBy(groupBy.map(col): _*)
          .orderBy(col("cnt").desc, col("ngram").asc)
        counts.withColumn("_tg_rn", row_number().over(w))
          .where(col("_tg_rn") <= k).drop("_tg_rn")
      }
    val tq = Naming.quoteId(textCol)
    val toksS = TextOps.tokensSql(tq)
    val gramS = TopNgramsShared.gramsSql(toksS, n)
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val innerSql =
      s"SELECT $gSel ngram, COUNT(*) AS cnt FROM (" +
        s"SELECT $gSel explode($gramS) AS ngram FROM {{source}} " +
        s"WHERE $tq IS NOT NULL AND length(trim($tq)) > 0 AND size($toksS) >= $n) " +
        s"GROUP BY ${gSel}ngram"
    val sqlFace =
      if (groupBy.isEmpty)
        s"$innerSql ORDER BY cnt DESC, ngram ASC LIMIT $k"
      else
        s"SELECT ${gSel}ngram, cnt FROM (SELECT *, ROW_NUMBER() OVER (" +
          s"PARTITION BY ${groupBy.mkString(", ")} ORDER BY cnt DESC, ngram ASC) AS _tg_rn " +
          s"FROM ($innerSql)) WHERE _tg_rn <= $k"
    c.next("top_ngrams", df2, Some(sqlFace))
  }

  /** top_ngrams_sketch(text_col, n, k, group_by, max_map_size): the
    * corpus-scale face of [[topNgrams]] — the exact census shuffles ONE
    * ROW PER DISTINCT GRAM (a full-domain groupBy whose reduce side is
    * the n-gram vocabulary: billions of keys at 100 TB) before discarding
    * all but k of them; this face folds the exploded grams into ONE
    * mergeable frequent-items sketch per group
    * ([[graft.functions.FreqSketches]] — Misra–Gries lineage, bounded
    * O(maxMapSize) state, map-side combined), so the only exchange moves
    * sketch bytes, never the gram domain. Output per group: the top-k
    * `(ngram, cnt, cnt_lb, cnt_ub)` ordered (cnt DESC, ngram ASC). Counts
    * are EXACT (lb = cnt = ub) while a group's distinct-gram count stays
    * under ~0.75×maxMapSize — the regime the driver oracle pins; beyond
    * it they carry the sketch's ±n/maxMapSize band with NO_FALSE_NEGATIVES
    * (every true heavy hitter appears; Round11Batch2Spec gates the
    * approximate regime against the exact census). Same input hygiene as
    * the exact face: null/blank texts and texts shorter than n tokens
    * contribute nothing; a group with no grams emits no rows.
    *
    * The SQL face calls the registered kernels (Spark-executable;
    * oracle regime = the exact census, the
    * [[graft.ops.AggOps.freqSketches]] posture).
    */
  def topNgramsSketch(textCol: String, n: Int, k: Int,
                      groupBy: Seq[String] = Nil,
                      maxMapSize: Int = 2048): Chain = {
    require(n >= 1 && n <= 8, s"top_ngrams_sketch needs n in [1, 8], got $n")
    require(k >= 1, s"top_ngrams_sketch needs k >= 1, got $k")
    val toks = TextOps.tokens(col(textCol))
    val grams = TopNgramsShared.gramsExpr(toks, n)
    val exploded = c.df
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0 &&
        size(toks) >= n)
      .select((groupBy.map(col) :+ explode(grams).as("_gram")): _*)
    val agged = exploded
      .groupBy(groupBy.map(col): _*)
      .agg(graft.functions.FreqSketches.sketchAgg(col("_gram"), maxMapSize).as("_sk"))
    // an empty group never reaches the aggregate (filtered rows), and the
    // ungrouped-empty case yields a null sketch whose top-k is null —
    // explode drops it, matching the exact face's zero rows
    val df2 = agged
      .select((groupBy.map(col) :+
        explode(graft.functions.FreqSketches.topK(col("_sk"), k)).as("_h")): _*)
      .select((groupBy.map(col) ++ Seq(
        col("_h.item").as("ngram"), col("_h.est").as("cnt"),
        col("_h.lb").as("cnt_lb"), col("_h.ub").as("cnt_ub"))): _*)
    val tq = Naming.quoteId(textCol)
    val toksS = TextOps.tokensSql(tq)
    val gramS = TopNgramsShared.gramsSql(toksS, n)
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("top_ngrams_sketch", df2, Some(
      s"SELECT $gSel _h.item AS ngram, _h.est AS cnt, _h.lb AS cnt_lb, _h.ub AS cnt_ub " +
        s"FROM (SELECT $gSel explode(freq_topk(_sk, $k)) AS _h FROM (" +
        s"SELECT $gSel freq_sketch_agg(_gram, $maxMapSize) AS _sk FROM (" +
        s"SELECT $gSel explode($gramS) AS _gram FROM {{source}} " +
        s"WHERE $tq IS NOT NULL AND length(trim($tq)) > 0 AND size($toksS) >= $n)$gBy))"))
  }
}

/** Gram-assembly fragments shared by [[graft.ext.TextOps.topNgrams]] (the
  * exact census) and its sketch twin — kept in one place so the two faces
  * can never drift on what an "n-gram" is.
  */
private[ext] object TopNgramsShared {
  /** Gram assembly via arrays_zip of n shifted slices: the token split is
    * an ARGUMENT of the zip (evaluated n times per row), never inside the
    * per-element lambda — `slice(tokens, i, n)` in a transform lambda
    * would re-run the split once per OUTPUT GRAM (HOF lambdas inline
    * their free subexpressions), which measured 4x slower at sf0.1.
    */
  def gramsExpr(toks: Column, n: Int): Column =
    if (n == 1) toks
    else {
      val m = size(toks) - lit(n - 1)
      val zipped = arrays_zip((1 to n).map(j => slice(toks, lit(j), m)): _*)
      transform(zipped, s =>
        concat_ws(" ", (0 until n).map(j => s.getField(s"$j")): _*))
    }

  /** SQL text of [[gramsExpr]] over a rendered tokens expression. */
  def gramsSql(toksS: String, n: Int): String =
    if (n == 1) toksS
    else {
      val slicesS = (1 to n)
        .map(j => s"slice($toksS, $j, size($toksS) - ${n - 1})").mkString(", ")
      s"transform(arrays_zip($slicesS), s -> concat_ws(' ', " +
        (0 until n).map(j => s"s['$j']").mkString(", ") + "))"
    }
}
