package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rolling-hash document fingerprinting via winnowing (Schleimer,
  * Wilkerson, Aiken — "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003).
  *
  * The batch form of the §2.9 "document fingerprinting (rolling
  * hash)" operator: where [[Dedup.fingerprint]] gives ONE hash per
  * normalized document (whole-doc exact dedup), winnowing gives a
  * POSITION-AWARE fingerprint set that overlaps between documents
  * sharing any run of `w + k - 1` tokens — the primitive behind
  * copy/containment detection (quote mining, boilerplate discovery,
  * license-text detection) that whole-doc hashing cannot express.
  *
  * Pipeline (all integer arithmetic — bit-identical across engines,
  * so the DuckDB oracle checks every stage value-for-value):
  *
  *  1. token hash: the first 8 hex chars of `md5(token)` as a long
  *     (md5 is the one hash portable across Spark/DuckDB/Java; Spark
  *     and DuckDB disagree on `ascii()` for non-ASCII, so a
  *     char-code fold is NOT portable);
  *  2. k-gram hash: Rabin–Karp polynomial hash over each window of
  *     `k` consecutive token hashes, Horner form
  *     `((th(i)·B mod M + th(i+1))·B mod M + …) mod M` with
  *     B = 1000003, M = 1e9+7 (all intermediates < 2^53 — no long
  *     overflow; the rolling O(1)-per-slide update is the hash
  *     family's property, the declarative plan computes each window
  *     in O(k));
  *  3. winnowing selection: over every window of `w` consecutive
  *     k-gram hashes keep the minimum, rightmost occurrence on ties
  *     (the paper's robust-winnowing rule); dedupe (pos, fp).
  *
  * Guarantees (paper §2): any match of length >= w + k - 1 tokens
  * shares at least one selected fingerprint; expected density is
  * 2/(w+1).
  *
  * Scale shape (100 TB): embarrassingly parallel per document — one
  * narrow pipeline (no joins), one shuffle only for the final
  * distinct on (id, pos, fp). Fingerprints are (long, long) pairs,
  * ~1000× smaller than the text; downstream containment joins are
  * hash equi-joins on `fp`.
  */
object Fingerprint {

  /** Rabin–Karp modulus (1e9+7): keeps every Horner intermediate
    * under 2^53 with 32-bit token hashes and base [[B]]. */
  val M = 1000000007L

  /** Rabin–Karp base for combining token hashes. */
  val B = 1000003L

  /** Stable 32-bit token hash: integer value of the first 8 hex chars
    * of md5 (portable across engines — see class doc). */
  def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  /** Polynomial k-gram hashes over a MATERIALIZED token-hash array
    * attribute (an inlined expression would re-evaluate per output
    * element — Dedup scaladoc). Docs with fewer than k tokens yield
    * an empty array. */
  def kgramHashes(th: Column, k: Int): Column =
    when(size(th) >= k,
      transform(sequence(lit(1), size(th) - (k - 1)), i =>
        (1 until k).foldLeft(element_at(th, i)) { (acc, j) =>
          acc * B % M + element_at(th, i + lit(j))
        } % M))
      .otherwise(array().cast("array<bigint>"))

  /** Winnowed fingerprints: one row per selected (0-based k-gram
    * position, fingerprint) pair, deduplicated. Output columns:
    * (idCol, pos LONG, fp LONG). Documents shorter than w + k - 1
    * tokens yield no rows (no full winnowing window exists). */
  def winnowFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k and w=$w must be >= 1")
    val th = docs
      .select(col(idCol), Dedup.tokens(col(textCol)).as("__toks"))
      // REPARTITION_BY_NUM like [[gramHashes]]: a count-less keyed
      // repartition (REPARTITION_BY_COL) is AQE-coalescible on the
      // small raw-text input bytes, un-buying the parallelism the
      // repartition exists to buy (Dedup.pinnedParts scaladoc).
      .repartition(Dedup.pinnedParts(docs), col(idCol))
      .select(col(idCol), transform(col("__toks"), tokenHash(_)).as("th"))
      // filter on the ATTRIBUTE th (len(kg) >= w ⟺ len(th) >= w+k-1):
      // a size(kg) filter on the projected alias would push down with
      // the whole k-gram tree substituted and evaluate it twice.
      .filter(size(col("th")) >= k + w - 1)
    val kgd = th.select(col(idCol), kgramHashes(col("th"), k).as("kg"))
    val win = kgd.select(
      col(idCol), col("kg"),
      explode(sequence(lit(1), size(col("kg")) - (w - 1))).as("j"))
    // kg and j are attributes here, so the per-window slice/min/fold
    // below touch materialized arrays only.
    val m = array_min(slice(col("kg"), col("j"), lit(w)))
    // rightmost index of the window minimum (robust winnowing):
    // fold offsets 0..w-1, keeping the LAST offset whose hash == min.
    val rel = aggregate(
      sequence(lit(0), lit(w - 1)), lit(-1L),
      (acc, t) =>
        when(element_at(col("kg"), (col("j") + t).cast("int")) === m, t)
          .otherwise(acc))
    win
      .select(
        col(idCol),
        (col("j").cast("long") - 1L + rel).as("pos"),
        m.as("fp"))
      .distinct()
  }

  /** Cross-split n-gram decontamination (the GPT-3-style eval-leakage
    * scrub): for every held-out document, how many of its DISTINCT
    * word n-grams also appear anywhere in the training split, and a
    * `contaminated` verdict when any do. Run before training to catch
    * test questions that leaked into the crawl.
    *
    * Output: (id, n_grams, n_hit — both LONG — contaminated BOOLEAN),
    * one row per `heldOut` document with at least one n-gram;
    * shorter-than-n documents have nothing to leak and are absent.
    *
    * Scale shape: each side explodes its per-doc `array_distinct`
    * shingles once (map-side); the training side collapses to ONE
    * distinct-gram set via a gram-keyed partial-aggregated groupBy,
    * and membership is a LEFT equi-join on a 128-bit md5 of the gram
    * — the shuffle ships (id, 32-hex) rows, never gram text, and is
    * AQE-skew-splittable. The held-out side is typically orders of
    * magnitude smaller than training at 100 TB, but nothing here
    * assumes it (no broadcast, no collect). */
  def ngramContamination(
      train: DataFrame, heldOut: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    val trainGrams = gramHashes(train, idCol, textCol, n).select("__gh").distinct()
      .withColumn("__hit", lit(1L))
    gramHashes(heldOut, idCol, textCol, n)
      .join(trainGrams, Seq("__gh"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(
        col(idCol), col("n_grams"), col("n_hit"),
        (col("n_hit") > 0L).as("contaminated"))
  }

  /** (id, md5(gram)) rows over each document's DISTINCT word n-grams
    * — the shared frontier of [[ngramContamination]] and
    * [[decontaminate]].
    *
    * The id-keyed repartition sits BELOW the tokenize/shingle/md5
    * projection: written directly over the scan, the whole gram
    * frontier (this operator family's entire CPU cost) fuses into
    * the file-scan stage and runs at scan parallelism. Same-session
    * A/B at ScaleStress `decontaminate` (r16, BASELINE.md): WITHOUT
    * the repartition 32.9 s/58.9 s at 50×/100× with the slowest
    * stage's MEDIAN task at 24.5 s/49.5 s (gram hashing nearly
    * serial, 21/37 tasks total); WITH it 12.6 s/15.2 s, 100 tasks,
    * max-stage median 6.3 s/8.4 s — 2.6×/3.9×, identical output
    * rows. Same lesson, same fix as [[Dedup]]'s shingle frontier
    * and [[Importance]]'s gram rows.
    * REPARTITION_BY_NUM (explicit count) so AQE cannot re-coalesce
    * on input bytes: raw text is small, the gram explosion that
    * follows is the real volume. The payload never rides this
    * shuffle — only (id, text) does, and only (id, 32-hex) leaves. */
  private def gramHashes(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df
      .select(col(idCol), col(textCol))
      .repartition(Dedup.pinnedParts(df), col(idCol))
      .select(col(idCol), Dedup.tokens(col(textCol)).as("__tk"))
      .select(
        col(idCol),
        // fused distinct-shingle kernel (r22) — same values as
        // array_distinct of the positional word n-grams, one pass
        explode(graft.functions.GraftFunctions.distinctShingles(col("__tk"), n))
          .as("__gram"))
      .select(col(idCol), md5(col("__gram")).as("__gh"))

  /** Multi-suite contamination ATTRIBUTION — when one scrub pass
    * covers several frozen eval suites, the audit row a leak
    * investigation needs is not "doc 4711 is contaminated" but
    * "doc 4711 shares 17 grams with suite X and 2 with suite Y":
    * whether the eval item leaked into the crawl or the crawl into
    * the eval item is adjudicated per suite, and a doc dropped for
    * one suite's sake must not count against another's leak rate.
    *
    * Output: (`idCol`, suite, n_hit LONG) — one row per (train
    * document, suite) sharing ≥1 distinct word `n`-gram, n_hit =
    * how many. Clean docs are absent; `sum(n_hit > 0)` per suite is
    * the per-suite leak exposure, and the id set under any suite
    * filter is exactly what [[decontaminate]] would drop scoped to
    * that suite.
    *
    * Scale shape: identical to [[ngramContamination]] with the
    * suite label riding the (small) held-out side only — held gram
    * rows join their doc's suite id-keyed BEFORE the distinct, so
    * the train side still ships (id, 32-hex) rows into one
    * gram-keyed join, and the rollup is a (doc, suite)-keyed
    * partial-aggregated count. */
  def contaminationBySuite(
      train: DataFrame, heldOut: DataFrame,
      idCol: String, textCol: String, suiteCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    val suiteGrams = gramHashes(heldOut, idCol, textCol, n)
      .join(heldOut.select(col(idCol), col(suiteCol).as("suite")), Seq(idCol))
      .select(col("suite"), col("__gh")).distinct()
    gramHashes(train, idCol, textCol, n)
      .join(suiteGrams, Seq("__gh"))
      .groupBy(col(idCol), col("suite"))
      .agg(count(lit(1)).as("n_hit"))
  }

  /** Decontamination REMOVAL — the action [[ngramContamination]]'s
    * detection exists to license, in the conservative GPT-3 direction
    * (Brown et al. 2020, appendix C): drop from the TRAINING split
    * every document sharing any word n-gram with the held-out split,
    * so eval answers that leaked into the crawl cannot be memorized.
    * Returns the surviving train rows with their full schema.
    * Documents shorter than n tokens have no grams and always
    * survive (nothing to leak). The same relationship
    * [[graft.operators.Dedup.dedupNearDups]] has to its pair
    * detector: detection queries audit, this emits the corpus you
    * actually train on.
    *
    * Scale shape: held-out grams collapse to ONE distinct md5 set
    * (held-out ≪ train at 100 TB, but nothing assumes it); train
    * gram rows (id, 32-hex) LEFT SEMI join it — gram-keyed,
    * AQE-skew-splittable, text never rides the gram shuffle;
    * contaminated ids collapse to a distinct id set; the payload
    * rides only the final id-keyed LEFT ANTI join. */
  def decontaminate(
      train: DataFrame, heldOut: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    val heldGrams = gramHashes(heldOut, idCol, textCol, n).select("__gh").distinct()
    val contaminated = gramHashes(train, idCol, textCol, n)
      .join(heldGrams, Seq("__gh"), "left_semi")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }
}
