package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token stats,
  * quality scoring, language identification, fingerprinting. All pure
  * built-in expressions (codegen'd, no UDFs), so they vectorize and
  * are portable to the SQL oracle.
  */
object TextAnalysis {

  /** Stopword list used by the quality / language heuristics. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def tokens(text: Column): Column = split(text, " ")

  /** Canonical text normalization for fingerprint-based dedup:
    * collapse whitespace runs to one space, trim, lowercase. A
    * map-side expression chain (regexp_replace + trim + lower, all
    * codegen'd) — normalizing BEFORE fingerprinting is what makes two
    * visually-identical crawls hash equal, and at 100 TB it rides the
    * scan for free. ASCII-stable semantics: locale-sensitive case
    * folding (e.g. dotless-i) is deliberately out of scope — both
    * this and the SQL oracle lower ASCII identically. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Count of tokens that are stopwords. */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isInCollection(Stopwords))).cast("long")

  /** Ratio of stopword tokens to all tokens (0 when empty). */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0L, lit(0.0d)).otherwise(stopwordCount(text).cast("double") / n)
  }

  /** Mean token length in characters. */
  def avgTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    val chars = length(text) - (n - 1) // single-space-joined corpora
    when(n === 0L, lit(0.0d)).otherwise(chars.cast("double") / n)
  }

  /** Punctuation character count (ASCII punctuation classes). */
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,;:!?'\"()\\[\\]{}-]", ""))).cast("long")

  /** Heuristic document quality in [0,1]: rewards natural stopword
    * density, a plausible mean word length, and non-trivial length.
    * Deterministic double arithmetic (oracle-reproducible). */
  def qualityScore(text: Column): Column = {
    val lenScore  = least(tokenCount(text).cast("double") / 100.0d, lit(1.0d))
    val stopScore = least(stopwordRatio(text) * 5.0d, lit(1.0d))
    val wordScore = when(avgTokenLen(text).between(3.0d, 10.0d), 1.0d).otherwise(0.5d)
    lenScore * 0.4d + stopScore * 0.3d + wordScore * 0.3d
  }

  /** N-gram-free language-ID heuristic: votes from tiny per-language
    * marker lexica over the token array; ties and no-evidence fall
    * back to 'und'. Deterministic and oracle-expressible. */
  def langGuess(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "is", "with"),
      "es" -> Seq("el", "la", "los", "las", "es"),
      "fr" -> Seq("le", "la", "les", "est", "et"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "zh" -> Seq("的", "是", "了", "和", "在"))
    val toks = tokens(text)
    val votes = markers.map { case (lang, ws) =>
      lang -> size(filter(toks, t => t.isInCollection(ws)))
    }
    val best = votes.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (in declaration order) achieving the max vote > 0
    votes.reverse.foldLeft(lit("und")) { case (acc, (lang, v)) =>
      when(v === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Stable 128-bit content fingerprint of the normalized text. */
  def fingerprint(text: Column): Column = Dedup.fingerprint(text)

  /** Phone-shaped PII: 2-4 digit groups separated by dash/dot/space,
    * at least three groups (a lone pair like "10-20" stays). Bounded
    * repeats only — no lookaround, no backrefs — so Java regex and
    * RE2 agree on every match. */
  val PhonePattern: String = "[0-9]{2,4}([-. ][0-9]{2,4}){2,}"

  /** Email-shaped PII. Deliberately simple (no quoting, no IDN): the
    * goal is scrubbing training text, not RFC validation. */
  val EmailPattern: String = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"

  /** Scrub PII shapes from text: emails → `[EMAIL]`, then phones →
    * `[PHONE]`. Emails first — an email's dotted digit local part
    * could otherwise be half-eaten by the phone pass. Pure codegen'd
    * `regexp_replace`, map-side only: at 100 TB this is a zero-shuffle
    * projection over the corpus scan. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  /** C4/Gopher-style document quality gate. Rules in fixed order, the
    * FIRST failing rule names the drop:
    *
    *  1. `too_short`   — fewer than `minTokens` tokens;
    *  2. `long_words`  — mean token length above `maxAvgTokenLen`
    *     (gibberish / base64 / minified-code signal);
    *  3. `no_stopwords` — zero stopwords (tables, logs, word salad);
    *  4. `repetitive`  — duplicate-token fraction above `maxDupFrac`
    *     (boilerplate / spam signal, cf. [[repetitionStats]]).
    *
    * Output: (id, n_tokens LONG, keep BOOLEAN, drop_reason STRING —
    * null when kept). All-expression (one map-side projection);
    * comparisons are single IEEE divisions evaluated identically on
    * both engines. */
  def qualityFilter(
      df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 10L, maxAvgTokenLen: Double = 10.0d,
      maxDupFrac: Double = 0.6d): DataFrame = {
    val tk = tokens(col(textCol))
    val n  = size(tk).cast("long")
    val nd = size(array_distinct(tk)).cast("long")
    val dupFrac = lit(1.0d) - nd.cast("double") / n
    val reason =
      when(n < minTokens, "too_short")
        .when(avgTokenLen(col(textCol)) > maxAvgTokenLen, "long_words")
        .when(stopwordCount(col(textCol)) === 0L, "no_stopwords")
        .when(dupFrac > maxDupFrac, "repetitive")
        .otherwise(lit(null).cast("string"))
    df.select(
      col(idCol),
      n.as("n_tokens"),
      reason.isNull.as("keep"),
      reason.as("drop_reason"))
  }

  /** Context-window chunking: split each document's token stream into
    * windows of `size` tokens starting every `stride` tokens
    * (stride < size ⇒ overlapping windows, the standard LM
    * pre-training shape). Trailing windows may be partial. NOTE:
    * whitespace-split of an empty string yields one empty token
    * (`split("", " ") == [""]`, the convention every token counter in
    * this file shares), so an empty document emits ONE chunk whose
    * text is "" — filter empty texts upstream (e.g. with
    * [[qualityFilter]]'s `too_short`) if that row is unwanted; the
    * guard below only protects the explode from a negative sequence
    * bound.
    *
    * Output: (id, chunk_idx LONG from 0, n_chunk_tokens LONG,
    * chunk_text). Scale shape: tokenize once, explode the start
    * offsets, slice — a map-side flatMap with output ≈ n/stride rows
    * per doc and NO shuffle; feed the result straight into a
    * repartition-by-range writer for sequence packing. */
  def chunkWindows(
      df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val withTk = df
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__tk")).cast("long"))
      .filter(col("__n") > 0L)
    withTk
      .select(
        col(idCol),
        col("__tk"),
        explode(sequence(lit(0L), col("__n") - 1L, lit(stride.toLong))).as("__start"))
      .select(
        col(idCol),
        (col("__start") / stride).cast("long").as("chunk_idx"),
        org.apache.spark.sql.functions.size(
          slice(col("__tk"), (col("__start") + 1L).cast("int"), lit(size))).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("__tk"), (col("__start") + 1L).cast("int"), lit(size)), " ")
          .as("chunk_text"))
  }

  /** BPE-style pre-tokenizer pattern (the GPT-2 shape: contractions,
    * optionally-space-prefixed letter runs / digit runs / punctuation
    * runs, residual space runs). Deliberately lookahead-free so the
    * SAME pattern runs identically under Java regex (Spark codegen)
    * and RE2 (the DuckDB oracle) — both engines use leftmost-first
    * alternation, so match boundaries agree token for token. The
    * contraction alternative is listed FIRST and the punctuation
    * class includes the apostrophe, so `it's` splits as GPT-2 does
    * (`it` + `'s`) while a non-contraction apostrophe (`'n`,
    * `O'Brien`'s quote) falls into a punctuation run instead of being
    * silently dropped — the token stream is a full partition of the
    * input. A training-data pipeline uses this count as the
    * cost/length signal that whitespace token counts understate on
    * code and JSON. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** The BPE-ish pre-token array of `text` (group 0 of [[BpePattern]];
    * Spark's `regexp_extract_all` defaults to group 1, so the index is
    * explicit). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** BPE-ish pre-token count — the "token budget" estimate. */
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text)).cast("long")

  /** Corpus vocabulary top-k (the Zipf head): per distinct token its
    * total occurrence count and document frequency, ranked by
    * (count DESC, token ASC) — a vocabulary-building / stopword-mining
    * primitive.
    *
    * Scale shape: ONE keyed shuffle (token) with map-side partial
    * aggregation builds the term table; the top-k is
    * `orderBy(...).limit(k)`, which Spark plans as TakeOrderedAndProject
    * — each task keeps a k-row heap, the driver merges P·k rows — so
    * the full vocabulary is never globally sorted or single-partitioned.
    * The final rank stamp is a window over the k surviving rows only.
    */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col(idCol)).as("n_docs"))
    val top = tf.orderBy(col("n_occurrences").desc, col("token")).limit(k)
    top.withColumn(
      "rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n_occurrences").desc, col("token"))).cast("long"))
      .select("rank", "token", "n_occurrences", "n_docs")
  }

  /** Intra-document repetition signals (the Gopher/MassiveText-style
    * quality filters: highly repetitive documents are boilerplate or
    * spam and get dropped before training):
    *
    *  - `dup_token_frac` — fraction of token occurrences that are
    *    repeats of an earlier token (`1 − distinct/total`);
    *  - `top_bigram_count` / `top_bigram_frac` — occurrences of the
    *    most frequent word bigram and its share of all bigrams;
    *  - `top_bigram` — that bigram (ties: highest count, then
    *    lexicographically LAST bigram — `max(struct(cnt, bigram))`
    *    gives one deterministic winner on both engines).
    *
    * Documents with fewer than 2 tokens have no bigram and are
    * absent from the output (callers left-join if they need them).
    *
    * Scale shape: tokens are materialized as an attribute before the
    * shingle lambda (the O(tokens²) inline-split trap: a lambda
    * re-evaluates an inlined `split` per output element), then ONE
    * explode feeds two
    * cascaded aggregations keyed by (id, bigram) → (id). Both enjoy
    * map-side partial aggregation; per-doc constants ride along as
    * `min(...)` aggregates so no join back to the source is needed.
    * No collect, no window over the full corpus — at 100 TB this is
    * two keyed shuffles of the bigram stream.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(
        col(idCol),
        col("__tk"),
        size(col("__tk")).cast("long").as("__n"),
        size(array_distinct(col("__tk"))).cast("long").as("__nd"))
    val bigrams = toks
      .filter(col("__n") >= 2L)
      .select(
        col(idCol),
        col("__n"),
        col("__nd"),
        explode(graft.functions.GraftFunctions.shingles(col("__tk"), 2)).as("__bigram"))
    bigrams
      .groupBy(col(idCol), col("__bigram"))
      .agg(
        count(lit(1)).as("__c"),
        min("__n").as("__n"),
        min("__nd").as("__nd"))
      .groupBy(col(idCol))
      .agg(
        min("__n").as("n_tokens"),
        min("__nd").as("n_distinct_tokens"),
        max(struct(col("__c"), col("__bigram"))).as("__top"),
        sum("__c").as("__n_bigrams"))
      .select(
        col(idCol),
        col("n_tokens"),
        col("n_distinct_tokens"),
        (lit(1.0d) - col("n_distinct_tokens").cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        col("__top.__bigram").as("top_bigram"),
        col("__top.__c").as("top_bigram_count"),
        (col("__top.__c").cast("double") / col("__n_bigrams")).as("top_bigram_frac"))
  }

  /** Corpus-frequent word n-grams — the boilerplate miner (headers,
    * footers, license blurbs, navigation chrome repeat VERBATIM across
    * many pages; a training-data pipeline mines them corpus-wide and
    * strips or down-weights the hits, cf. the C4 placeholder-line and
    * MassiveWeb boilerplate passes). Emits the top `k` n-grams that
    * occur in at least `minDocs` distinct documents, ranked by
    * (n_docs DESC, n_occurrences DESC, gram ASC).
    *
    * Scale shape: tokens are materialized before the shingle lambda
    * (an inlined `split` re-evaluates per output element: O(tokens²)), then
    * ONE explode feeds ONE gram-keyed shuffle with map-side partial
    * aggregation; `minDocs` prunes the long tail BEFORE the top-k,
    * and the top-k itself is `orderBy(...).limit(k)` — planned as
    * TakeOrderedAndProject (per-task k-row heaps, driver merges P·k
    * rows), so the gram table is never globally sorted. At 100 TB
    * the gram stream is the corpus × n blow-up every boilerplate
    * miner pays; partial aggregation collapses it per task before
    * the exchange. */
  def boilerplateNgrams(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Long, k: Int): DataFrame = {
    require(n > 0 && minDocs >= 1 && k > 0,
      s"need n>0, minDocs>=1, k>0; got n=$n minDocs=$minDocs k=$k")
    val rankOrder = Seq(col("n_docs").desc, col("n_occurrences").desc, col("gram"))
    df
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), explode(graft.functions.GraftFunctions.shingles(col("__tk"), n)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(rankOrder: _*)
      .limit(k)
      .withColumn(
        "rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(rankOrder: _*)).cast("long"))
      .select("rank", "gram", "n_docs", "n_occurrences")
  }

  /** BPE merge-candidate mining — the pair-counting step of tokenizer
    * training (Sennrich et al., "Neural Machine Translation of Rare
    * Words with Subword Units"): count adjacent character pairs over
    * every word OCCURRENCE in the corpus and rank the top `k`; the
    * most frequent pair is the next merge a BPE trainer would apply.
    * One round is emitted (full training iterates merge → recount;
    * each round is this same shuffle over a shrinking symbol stream).
    *
    * Output: (rank, pair, n_occurrences), rank by
    * (n_occurrences DESC, pair ASC).
    *
    * Scale shape: words explode map-side; each word materializes as
    * an attribute BEFORE the pair lambda (higher-order functions run
    * interpreted, and an inlined split would re-evaluate per output
    * element). The pair stream is ~bytes-of-corpus rows of 2-char
    * keys — ONE keyed shuffle with map-side partial aggregation over
    * a key space bounded by |alphabet|² collapses it; the top-k is
    * TakeOrderedAndProject. No driver-side vocabulary, no collect. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val rankOrder = Seq(col("n_occurrences").desc, col("pair"))
    df
      .select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 2)
      .select(explode(
        transform(
          sequence(lit(1), length(col("__w")) - 1),
          i => col("__w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(rankOrder: _*)
      .limit(k)
      .withColumn(
        "rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(rankOrder: _*)).cast("long"))
      .select("rank", "pair", "n_occurrences")
  }
}
