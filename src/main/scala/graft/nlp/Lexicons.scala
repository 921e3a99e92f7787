package graft.nlp

/**
 * Deterministic lexicons backing the rebuild's local NLP scorers.
 *
 * The reference scores text with three Google Cloud Natural Language RPCs
 * (SentimentAnalysis.scala:231-240 analyzeSentiment, :62-93
 * analyzeEntitySentiment, :126-148 classifyText). A zero-egress rebuild
 * replaces them with pure lexicon arithmetic (SURVEY.md §2.5) so that the
 * DuckDB correctness oracle can replay the exact same scores: every table
 * here is exported both as a Spark literal (map/array columns, codegen'd —
 * no UDFs) and as a SQL `VALUES` CTE for the oracle.
 *
 * Valence scale is AFINN-style integers in [-5, 5]. The word list covers
 * (a) the synthetic benchmark vocabulary of `documents.parquet` and (b) a
 * set of common English sentiment words so the scorer generalizes to real
 * text.
 */
object Lexicons {

  /** word -> integer valence in [-5,5]; only nonzero entries are listed. */
  val valence: Seq[(String, Int)] = Seq(
    // --- synthetic corpus vocabulary (testdata documents.parquet) ---
    // Frequency-weighted net valence over the corpus is slightly negative
    // (≈ -380 at 500 docs, ≈ -0.2 mood/row), so the reference's toxicity
    // filters (<= -10 / -20 / -30, SentimentAnalysis.scala:311) fire on
    // SOME but not ALL complete count windows at every scale factor
    // (verified: 13/15, 7/7, 3/3 windows at sf0.01; 76/156, 26/91, 13/26
    // at sf0.1) — the filter is exercised in both directions.
    "fast" -> 3, "slow" -> -4, "big" -> 2, "small" -> -2, "merge" -> 2,
    "dup" -> -3, "join" -> -1, "hash" -> 1, "scan" -> -2, "filter" -> -2,
    "sort" -> -2, "batch" -> 2, "stream" -> 2, "spark" -> 3, "query" -> -1,
    "group" -> -2, "order" -> 1,
    // --- common English sentiment words (AFINN-style, public scale) ---
    "abandon" -> -2, "abuse" -> -3, "admire" -> 3, "adore" -> 3,
    "afraid" -> -2, "aggressive" -> -2, "amazing" -> 4, "angry" -> -3,
    "annoy" -> -2, "anxious" -> -2, "appreciate" -> 2, "awesome" -> 4,
    "awful" -> -3, "bad" -> -3, "beautiful" -> 3, "best" -> 3,
    "better" -> 2, "bless" -> 2, "bore" -> -2, "boring" -> -3,
    "brilliant" -> 4, "broken" -> -1, "calm" -> 2, "celebrate" -> 3,
    "charm" -> 3, "cheer" -> 2, "comfort" -> 2, "cool" -> 1,
    "crash" -> -2, "crazy" -> -2, "cruel" -> -3, "cry" -> -1,
    "damage" -> -3, "danger" -> -2, "dead" -> -3, "delight" -> 3,
    "despair" -> -3, "destroy" -> -3, "disappoint" -> -2, "disaster" -> -2,
    "disgust" -> -3, "dislike" -> -2, "dream" -> 1, "dumb" -> -3,
    "eager" -> 2, "easy" -> 1, "enjoy" -> 2, "evil" -> -3,
    "excellent" -> 5, "excite" -> 3, "fail" -> -2, "failure" -> -2,
    "fantastic" -> 4, "fear" -> -2, "fine" -> 2, "fraud" -> -4,
    "free" -> 1, "fun" -> 4, "funny" -> 4, "glad" -> 3,
    "good" -> 3, "grateful" -> 3, "great" -> 3, "grief" -> -2,
    "happy" -> 3, "hate" -> -3, "hell" -> -4, "help" -> 2,
    "hope" -> 2, "horrible" -> -3, "hurt" -> -2, "ignore" -> -1,
    "improve" -> 2, "innovative" -> 2, "inspire" -> 2, "jerk" -> -3,
    "joy" -> 3, "kill" -> -3, "kind" -> 2, "laugh" -> 1,
    "lie" -> -1, "like" -> 2, "lose" -> -3, "loss" -> -3,
    "love" -> 3, "lucky" -> 3, "mad" -> -3, "mess" -> -2,
    "miss" -> -2, "nice" -> 3, "pain" -> -2, "panic" -> -3,
    "perfect" -> 3, "please" -> 1, "poor" -> -2, "problem" -> -2,
    "proud" -> 2, "rage" -> -2, "sad" -> -2, "safe" -> 1,
    "scare" -> -2, "sick" -> -2, "smart" -> 1, "smile" -> 2,
    "sorry" -> -1, "strong" -> 2, "stupid" -> -2, "success" -> 2,
    "suck" -> -3, "super" -> 3, "terrible" -> -3, "thank" -> 2,
    "threat" -> -2, "top" -> 2, "toxic" -> -3, "tragic" -> -2,
    "trouble" -> -2, "trust" -> 1, "ugly" -> -3, "useful" -> 2,
    "useless" -> -2, "warm" -> 1, "weak" -> -2, "welcome" -> 2,
    "win" -> 4, "wonderful" -> 4, "worry" -> -3, "worse" -> -3,
    "worst" -> -3, "wrong" -> -2, "wow" -> 4, "yes" -> 1,
  )

  /** Lexicon NER: tokens treated as named entities in addition to any
    * capitalized token (SURVEY.md §2.5 X2: "capitalized-token / lexicon
    * NER"). Covers the synthetic corpus's proper-noun-ish terms. */
  val entityTerms: Seq[String] =
    Seq("spark", "customer", "vector", "stream", "window", "table", "query")

  /** classifyText replacement (SentimentAnalysis.scala:137-144): a fixed
    * keyword taxonomy; confidence = keyword hits / total tokens. */
  val categoryKeywords: Seq[(String, Seq[String])] = Seq(
    "joins"       -> Seq("join", "merge", "hash"),
    "streaming"   -> Seq("stream", "window", "batch"),
    "engine"      -> Seq("query", "scan", "filter", "sort", "agg", "group",
                         "order"),
    "storage"     -> Seq("table", "row", "column", "part", "line", "key",
                         "value", "data"),
    "performance" -> Seq("fast", "slow", "big", "small"),
  )

  /** Stopwords for the text-quality scorer. */
  val stopwords: Seq[String] = Seq(
    "a", "the", "and", "of", "to", "in", "is", "it", "on", "for", "with",
    "as", "at", "by", "an", "be", "this", "that", "or", "are")

  /** Per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Deterministic tie-break: highest hit count, then
    * alphabetical language code. "und" when no profile matches. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
                "zu", "mit", "von", "auf"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "on",
                "for", "with", "that"),
    "es" -> Seq("el", "la", "los", "las", "es", "un", "una", "de", "con",
                "por", "para", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour",
                "avec", "que", "des"),
  )

  // ------------------------------------------------------------------
  // SQL CTE emitters — the DuckDB oracle loads the *same* tables inline,
  // so engine and oracle replay identical arithmetic (SURVEY.md §5).
  // ------------------------------------------------------------------

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** `lex(word, v)` VALUES CTE body. */
  def valenceCte: String =
    "lex(word, v) AS (VALUES " +
      valence.map { case (w, v) => s"(${sqlStr(w)}, $v)" }.mkString(", ") + ")"

  /** SQL list literal of entity terms: `['spark', ...]`. */
  def entityListSql: String =
    entityTerms.map(sqlStr).mkString("[", ", ", "]")

  /** `cat(category, word)` VALUES CTE body (one row per keyword). */
  def categoryCte: String =
    "cat(category, word) AS (VALUES " +
      categoryKeywords.flatMap { case (c, ws) =>
        ws.map(w => s"(${sqlStr(c)}, ${sqlStr(w)})")
      }.mkString(", ") + ")"

  /** SQL list literal of stopwords: `['a', 'the', ...]`. */
  def stopListSql: String =
    stopwords.map(sqlStr).mkString("[", ", ", "]")

  /** `langp(lang, word)` VALUES CTE body. */
  def langCte: String =
    "langp(lang, word) AS (VALUES " +
      langProfiles.flatMap { case (l, ws) =>
        ws.map(w => s"(${sqlStr(l)}, ${sqlStr(w)})")
      }.mkString(", ") + ")"
}
