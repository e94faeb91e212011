package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text functions (SURVEY.md §2.8 F1-F10, §2.7 X2/X4) as pure Column
  * expression trees — no UDFs, so every one of them stays inside whole-stage
  * codegen and is evaluated row-at-a-time with no serialization overhead.
  *
  * Reference semantics: /root/reference/src/feature_pipeline/document_processor.py:20-81
  * (cleaning + quality score), rag_engine.py:243 (token estimate),
  * advanced_search.py:100-146 (normalization + intent).
  */
object TextFunctions {

  /** `lower()` as far as ASCII letters and digits can tell: A–Z and the
    * Kelvin sign U+212A become a–z and k, and U+0130 becomes "i̇" (i plus
    * combining dot U+0307), exactly as ICU's root-locale lower case maps
    * them. Every other code point keeps its case. No other code point's
    * lower case contains [a-z0-9] or any other ASCII character, so
    * [a-z0-9] tokens and matches of ASCII substrings come out as under
    * `lower()` (TextSearchSpec checks every code point). Spark's `lower()`
    * runs through ICU case mapping, whose one-time class initialisation
    * made a session's first `lower()` take 1.8 s against 0.17 s for the
    * next (sf0.01 documents, 4-core VM); this fold never loads it. */
  def foldCase(c: Column): Column =
    translate(replace(c, lit("\u0130"), lit("i\u0307")),
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ\u212A", "abcdefghijklmnopqrstuvwxyzk")

  /** Python-`str.strip()`: ALL whitespace, both ends (Spark's `trim` only
    * strips spaces — a newline at either end would skew counts). */
  def pyStrip(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** Python-`str.split()` word count: whitespace runs as separators, empty
    * string counts 0 (document_processor.py:113). */
  def wordCount(c: Column): Column =
    when(length(pyStrip(c)) === 0, lit(0))
      .otherwise(size(split(pyStrip(c), "\\s+")))

  /** F1 content cleaning (document_processor.py:20-33): collapse 3+ blank
    * lines, collapse spaces, drop boilerplate phrases, strip HTML tags and
    * entities, trim. Order of the rewrites matches the reference so outputs
    * are byte-identical. */
  def cleanContent(c: Column): Column = {
    val collapsedNl = regexp_replace(c, "\\n\\s*\\n\\s*\\n", "\n\n")
    val collapsedSp = regexp_replace(collapsedNl, " +", " ")
    val noPolicy    = regexp_replace(collapsedSp, "(?i)Cookie Policy|Privacy Policy|Terms of Service", "")
    val noSub       = regexp_replace(noPolicy, "(?i)Subscribe to.*newsletter", "")
    val noFollow    = regexp_replace(noSub, "(?i)Follow us on.*", "")
    val noTags      = regexp_replace(noFollow, "<[^>]+>", "")
    val noEntities  = regexp_replace(noTags, "&\\w+;", "")
    pyStrip(noEntities)
  }

  private def countMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** F2 quality score (document_processor.py:35-81). Weighted sum of five
    * sub-scores: length 0.2, structure 0.15, richness 0.25, readability 0.2,
    * credibility 0.2; clamped to [0,1]. `title`/`url` may be null columns
    * when the input table has no such fields (our fixture documents table). */
  def qualityScore(content: Column, title: Column, url: Column): Column = {
    val wc = wordCount(content).cast("double")
    val lengthScore = when(wc > 100, lit(0.2) * least(lit(1.0), wc / 1000.0)).otherwise(lit(0.0))

    val headerCount = countMatches(content, "(?m)^#{1,6}\\s+.+")
    val listCount   = countMatches(content, "(?m)^\\s*[-*+]\\s+.+")
    val structureScore =
      when(title.isNotNull && length(pyStrip(title)) > 5, lit(0.3)).otherwise(lit(0.0)) +
      when(headerCount > 0, lit(0.4)).otherwise(lit(0.0)) +
      when(listCount > 0, lit(0.3)).otherwise(lit(0.0))
    val structureTerm = lit(0.15) * least(lit(1.0), structureScore)

    val structureElements =
      countMatches(content, "(?m)^#{1,6}\\s+.+|^\\s*[-*+]\\s+.+|^\\s*\\d+\\.\\s+.+").cast("double")
    val richnessTerm = lit(0.25) * least(lit(1.0), structureElements / 10.0)

    // sentences = split on [.!?]+ (keeps empties, like Python re.split)
    val sentences      = split(content, "[.!?]+")
    val sentenceWords  = transform(sentences, s => wordCount(s))
    val avgSentenceLen = aggregate(sentenceWords, lit(0), (acc, x) => acc + x).cast("double") /
      size(sentences).cast("double")
    val readabilityTerm = lit(0.2) * greatest(lit(0.0), lit(1.0) - abs(avgSentenceLen - 17.0) / 17.0)

    val urlLower = foldCase(url)
    val credible = Seq("yahoo", "org", "realmadrid", "psg", "inter", "porto", "benfica",
      "apple", "ai", "nvidia", "google", "microsoft", "amazon", "meta")
    val isCredible   = credible.map(d => urlLower.contains(d)).reduce(_ || _)
    val isCommercial = urlLower.contains("com") || urlLower.contains("net")
    val credibility = when(url.isNull, lit(0.5))
      .when(isCredible, lit(0.8))
      .when(isCommercial, lit(0.6))
      .otherwise(lit(0.4))
    val credibilityTerm = lit(0.2) * credibility

    val total = lengthScore + structureTerm + richnessTerm + readabilityTerm + credibilityTerm
    when(content.isNull || length(content) === 0, lit(0.0))
      .otherwise(greatest(lit(0.0), least(lit(1.0), total)))
  }

  /** F4 deterministic chunk id (document_processor.py:105-107):
    * md5("{doc_id}_{idx}_{first 100 chars}"). */
  def chunkId(docId: Column, idx: Column, content: Column): Column =
    md5(concat_ws("_", docId, idx, substring(content, 1, 100)))

  /** F5 token estimate: len // 4 (rag_engine.py:243). */
  def tokenEstimate(c: Column): Column = floor(length(c) / 4).cast("long")

  /** F7 truncation with ellipsis (rag_engine.py:252): content[:maxTokens*4] + "...". */
  def truncateTokens(c: Column, maxTokens: Int): Column =
    when(tokenEstimate(c) > maxTokens, concat(substring(c, 1, maxTokens * 4), lit("...")))
      .otherwise(c)

  /** F6 URL extraction (notion_collector.py:340-398): markdown links + bare
    * URLs, trailing punctuation stripped, notion.so links excluded (the
    * reference's own-workspace filter), deduplicated. */
  def extractUrls(c: Column): Column = {
    val mdUrls   = regexp_extract_all(c, lit("\\[[^\\]]+\\]\\(([^)]+)\\)"), lit(1))
    val bareUrls = regexp_extract_all(c, lit("https?://[^\\s\\)\\]]+"), lit(0))
    filter(
      array_distinct(transform(concat(mdUrls, bareUrls),
        u => regexp_replace(u, "[.,;:!?]+$", ""))),
      u => !u.contains("notion.so"))
  }

  /** F8 markdown→Slack-mrkdwn rewrite (slack_bot.py:174-188), the reference's
    * four rules applied in its exact order so outputs are byte-identical:
    * `[text](url)` → `<url|text>`, `**bold**` → `*bold*`, ATX headers →
    * `*header*`, then any still-parenthesized bare URL → `<url>` (rule 1 has
    * already consumed the markdown-link parens by the time rule 4 runs). */
  def markdownToSlack(c: Column): Column = {
    val links   = regexp_replace(c, "\\[([^\\]]+)\\]\\(([^)]+)\\)", "<$2|$1>")
    val bold    = regexp_replace(links, "\\*\\*([^*]+)\\*\\*", "*$1*")
    val headers = regexp_replace(bold, "(?m)^#{1,6}\\s*(.+)$", "*$1*")
    regexp_replace(headers, "\\((https?://[^)]+)\\)", "<$1>")
  }

  /** Slack inbound mention strip (slack_bot.py:170-172): drop `<@USERID>`
    * tokens, then Python-strip. */
  def stripMention(c: Column): Column =
    pyStrip(regexp_replace(c, "<@[A-Z0-9]+>", ""))

  /** S4 decode half: HTML → LLM-friendly plain text. The reference delegates
    * this to its crawler library's markdown extraction (web_crawler.py:100-101);
    * this is the in-engine equivalent for already-fetched HTML columns — the
    * standard training-pipeline boilerplate pass. Head (incl. title/style),
    * script/style blocks and comments are dropped; block-closing tags become
    * newlines so structure survives the tag strip; common entities decode
    * (`&amp;` last, so `&amp;lt;` yields the literal `&lt;`, not `<`);
    * whitespace collapses. Pure codegen Column tree, scales with input splits. */
  def htmlToText(c: Column): Column = {
    val noHead     = regexp_replace(c, "(?is)<head[^>]*>.*?</head>", "")
    val noScript   = regexp_replace(noHead, "(?is)<script[^>]*>.*?</script>", "")
    val noStyle    = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", "")
    val noComment  = regexp_replace(noStyle, "(?s)<!--.*?-->", "")
    val blockNl    = regexp_replace(noComment,
      "(?i)<(?:br\\s*/?|/p|/div|/li|/h[1-6]|/tr|/table|/ul|/ol)[^>]*>", "\n")
    val noTags     = regexp_replace(blockNl, "<[^>]+>", "")
    val entities   = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (col, (ent, ch)) => regexp_replace(col, ent, ch) }
    val oneSpace   = regexp_replace(entities, "[ \\t]+", " ")
    val tidyLines  = regexp_replace(oneSpace, " ?\\n ?", "\n")
    pyStrip(regexp_replace(tidyLines, "\\n{3,}", "\n\n"))
  }

  /** X4 query normalization (advanced_search.py:101): collapse whitespace, trim. */
  def normalizeQuery(c: Column): Column =
    regexp_replace(trim(c), "\\s+", " ")

  /** X2 intent classification (advanced_search.py:125-146): first-match
    * bucket over keyword substring lists. */
  def queryIntent(c: Column): Column = {
    val q = foldCase(c)
    def anyOf(terms: Seq[String]): Column = terms.map(t => q.contains(t)).reduce(_ || _)
    when(anyOf(Seq("api", "code", "function", "class", "implement")), "technical")
      .when(anyOf(Seq("how to", "how do", "steps", "tutorial")), "how-to")
      .when(anyOf(Seq("error", "problem", "issue", "fix", "debug")), "problem-solving")
      .when(anyOf(Seq("what is", "explain", "concept", "theory")), "conceptual")
      .otherwise("general")
  }
}
