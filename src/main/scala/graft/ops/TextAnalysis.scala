package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint

/** Text-analysis operators for large-scale training-data pipelines, over the
  * `documents(doc_id, text, lang, source, n_chars)` table.
  *
  * Everything here is pure column expressions (whole-stage codegen; no UDFs),
  * designed so the same computation is expressible in ANSI-ish SQL for the
  * DuckDB oracle. Occurrence counts use the replace-length trick
  * (len(s) - len(replace(s, pat))) / len(pat), which is engine-portable and
  * avoids regex-dialect drift.
  */
object TextAnalysis {

  /** #occurrences of literal `pat` in `c` (portable replace-length trick;
    * plain-string `replace`, identical semantics in DuckDB). */
  def occurrences(c: Column, pat: String): Column =
    ((length(c) - length(call_function("replace", c, lit(pat), lit(""))))
      / lit(pat.length)).cast("long")

  /** Whitespace token count: tokens = non-empty runs between whitespace. */
  def tokenCount(c: Column): Column =
    size(filter(split(c, "\\s+"), x => x =!= "")).cast("long")

  /** BPE-ish token estimate: ceil(chars/4) + word boundary bonus — the
    * standard "~4 chars/token" estimator used when a real tokenizer is not
    * available in-engine. */
  def tokenEstimate(c: Column): Column =
    ceil(length(c).cast("double") / 4.0).cast("long")

  /** GPT-2-family pre-tokenizer pattern, restricted to constructs whose
    * semantics are identical in Java regex and RE2 (DuckDB): letter runs,
    * digit runs, single other non-space characters. */
  val bpeSplitPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** BPE-ish regex token count: one token per pre-tokenizer match — the
    * shape a byte-pair tokenizer's segmenter produces before merges. */
  def tokenCountBpe(c: Column): Column =
    size(call_function("regexp_extract_all", c, lit(bpeSplitPattern), lit(0)))
      .cast("long")

  /** Quality scoring: length, punctuation ratio, stopword ratio, uppercase
    * ratio, mean word length — the standard cheap quality gates. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("double")
    val nTokens = tokenCount(text).cast("double")
    val punct = Seq(".", ",", "!", "?", ";", ":").map(occurrences(text, _))
      .reduce(_ + _).cast("double")
    val stop = Seq(" the ", " a ", " and ", " of ", " to ")
      .map(p => occurrences(concat(lit(" "), text, lit(" ")), p))
      .reduce(_ + _).cast("double")
    Seq(
      "n_chars_m" -> nChars.cast("long"),
      "n_tokens" -> nTokens.cast("long"),
      "punct_ratio" -> round(punct / greatest(nChars, lit(1.0)), 6),
      "stopword_ratio" -> round(stop / greatest(nTokens, lit(1.0)), 6),
      "mean_word_len" -> round(nChars / greatest(nTokens, lit(1.0)), 4))
  }

  def qualityScore(docs: DataFrame): DataFrame =
    qualityColumns(col("text")).foldLeft(docs.select(col("doc_id"), col("text"))) {
      case (df, (name, c)) => df.withColumn(name, c)
    }.drop("text")

  /** Language-ID by stopword-profile scoring (n-gram heuristic family).
    * Deterministic: score(lang) = Σ occurrences of that language's marker
    * words; argmax with lexicographic tiebreak on language code.
    * (The testdata's `lang` column is synthetic metadata, not a property of
    * the text; the operator contract is the heuristic itself.)
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " die ", " und ", " nicht ", " das "),
    "en" -> Seq(" the ", " and ", " of ", " to ", " is "),
    "es" -> Seq(" el ", " la ", " que ", " los ", " una "),
    "fr" -> Seq(" le ", " la ", " les ", " est ", " une "),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langScore(text: Column, lang: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    langProfiles.toMap.apply(lang).map(occurrences(padded, _)).reduce(_ + _)
  }

  def langId(docs: DataFrame): DataFrame = {
    val scored = langProfiles.foldLeft(docs.select(col("doc_id"), col("text"))) {
      case (df, (lang, _)) => df.withColumn(s"score_$lang", langScore(col("text"), lang))
    }
    // argmax with deterministic tiebreak (highest score, then language code),
    // encoded as greatest() over zero-padded "score||lang" keys — a form with
    // byte-identical semantics in the SQL oracle.
    val keys = langProfiles.map { case (lang, _) =>
      concat(lpad(col(s"score_$lang").cast("string"), 10, "0"), lit(lang))
    }
    scored
      .withColumn("best", greatest(keys: _*))
      .select(col("doc_id"),
        substring(col("best"), 11, 2).as("lang_pred"),
        substring(col("best"), 1, 10).cast("long").as("lang_score"))
  }

  /** Document fingerprinting by winnowing (Schleimer et al. 2003): token
    * 3-gram hashes, sliding-window minimum (window w=4), distinct selected
    * hashes form the fingerprint. md5-based gram hash keeps it portable to
    * the SQL oracle. Emits (doc_id, n_fingerprints, min_fp).
    */
  def fingerprint(docs: DataFrame, n: Int = 3, window: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Dedup.fanOut(docs).select(col("doc_id"),
      posexplode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
        .as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = toks
      .withColumn("g2", lead(col("tok"), 1).over(w))
      .withColumn("g3", lead(col("tok"), 2).over(w))
      .filter(col("g3").isNotNull)
      .withColumn("gram_hash", md5(concat_ws(" ", col("tok"), col("g2"), col("g3"))))
    val winMin = grams.withColumn("win_min",
      min(col("gram_hash")).over(w.rowsBetween(-(window - 1), 0)))
    winMin.groupBy(col("doc_id")).agg(
      countDistinct(col("win_min")).as("n_fingerprints"),
      min(col("win_min")).as("min_fp"))
  }

  /** Sparse TF-IDF document similarity via an inverted-index join — the
    * scale path for text similarity when no dense embeddings exist: pairs are
    * generated ONLY for documents sharing a (rare) term, never all-pairs.
    *
    * Determinism across engines: idf is integerized (floor(1000·N/df), IEEE
    * double division + floor — bit-identical in DuckDB), weights tf·idf are
    * exact BIGINTs, so dot products and squared norms are exact integer sums
    * in any aggregation order; the final cosine is two correctly-rounded
    * sqrts and one division over identical integers.
    *
    * Stopword-like terms (df > dfCap) are dropped before the pair join —
    * without this the most frequent term alone contributes O(N²) pairs; with
    * it the join is bounded by dfCap·Σdf. df ≥ 2 because df=1 terms cannot
    * co-occur. At 100 TB the df table is a bounded vocabulary → broadcast.
    *
    * @return (a, b, cos) for pairs with cosine ≥ threshold, a < b.
    */
  /** Blocklist redaction — the term-scrub pass of corpus hygiene (PII /
    * sensitive-term removal). Word-boundary-anchored alternation, replaced
    * globally; per-row projection only (embarrassingly parallel, no
    * shuffle). Returns (doc_id, n_redacted, masked_len). */
  def redactTerms(docs: DataFrame, terms: Seq[String],
      marker: String = "[REDACTED]"): DataFrame = {
    // Blocklist terms are arbitrary user-supplied strings: escape each one so
    // regex metacharacters ("c++", "a.b") can't break or widen the pattern,
    // and lowercase to match the lowercased text (mixed-case terms would
    // otherwise silently never match). Backslash-escaping (not Pattern.quote's
    // \Q..\E, which RE2 rejects) keeps the pattern portable to the oracle.
    val pat = terms.map(_.toLowerCase.flatMap { ch =>
      if ("\\^$.|?*+()[]{}".indexOf(ch) >= 0) "\\" + ch else ch.toString
    }).mkString("\\b(", "|", ")\\b")
    docs.select(col("doc_id"),
      regexp_count(lower(col("text")), lit(pat)).cast("long").as("n_redacted"),
      length(regexp_replace(lower(col("text")), pat, marker)).cast("long")
        .as("masked_len"))
  }

  /** PII scrub — the pattern-class hygiene pass [[redactTerms]]'s literal
    * blocklist can't express: emails, phone-shaped, SSN-shaped and long
    * bare digit-run tokens are counted per class on the original
    * (lowercased) text and masked SEQUENTIALLY (email → phone → SSN →
    * digit-run, so an already-masked class can't partially re-match a
    * later pattern). Patterns are RE2-portable (no lookaround, no \Q\E,
    * ASCII \b) so the SQL oracle replays them verbatim; the four classes
    * are mutually non-overlapping by construction (3-3-4 phone vs 3-2-4
    * SSN separators; digit runs require ≥9 UNBROKEN digits).
    *
    * Pure per-row projection — embarrassingly parallel, no shuffle, and
    * the masked text itself never leaves the row (only counts and the
    * masked length surface), so nothing corpus-sized moves.
    *
    * @return one audit row per doc: (doc_id, n_email, n_phone, n_ssn,
    *         n_digit, n_redacted, masked_len) — plus any `carry` columns
    *         passed through unchanged (keeps single-projection callers like
    *         [[graft.streaming.CurationStream]] join-free)
    */
  def piiScrub(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val classes = Seq(
      "email" -> ("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "[EMAIL]"),
      "phone" -> ("\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b", "[PHONE]"),
      "ssn" -> ("\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "[SSN]"),
      "digit" -> ("\\b[0-9]{9,}\\b", "[ID]"))
    val t = lower(col("text"))
    val masked = classes.foldLeft(t) { case (acc, (_, (pat, marker))) =>
      regexp_replace(acc, pat, marker)
    }
    val counts = classes.map { case (name, (pat, _)) =>
      regexp_count(t, lit(pat)).cast("long").as(s"n_$name")
    }
    docs.select(col("doc_id") +:
        (counts ++ (length(masked).cast("long").as("masked_len") +:
          carry.map(col))): _*)
      .withColumn("n_redacted",
        col("n_email") + col("n_phone") + col("n_ssn") + col("n_digit"))
      .select(col("doc_id") +: col("n_email") +: col("n_phone") +:
        col("n_ssn") +: col("n_digit") +: col("n_redacted") +:
        col("masked_len") +: carry.map(col): _*)
  }

  /** Intra-document repetition ratio (the Gopher/RefinedWeb-style quality
    * rule): fraction of duplicated token n-grams per document. One
    * (doc_id)-shuffle for the gram window, then a per-doc agg. */
  def repetitionRatio(docs: DataFrame, n: Int = 2): DataFrame = {
    // r14: both counts are row-local (the gram multiset is doc-local), so
    // the per-doc exchange is gone — two sizes over the named per-row gram
    // array; the filter keeps exactly the docs the old groupBy emitted
    // (≥ 1 gram)
    Dedup.fanOut(docs)
      .select(col("doc_id"),
        graft.expr.VectorOps.wordNgrams(col("text"), n).as("arr"))
      .select(col("doc_id"),
        size(col("arr")).cast("long").as("total_grams"),
        size(array_distinct(col("arr"))).cast("long").as("uniq_grams"))
      .filter(col("total_grams") > 0)
      .select(col("doc_id"), col("total_grams"), col("uniq_grams"),
        // floor micro-units (tie-free) — an exact count ratio, see
        // Queries' parity conventions
        (floor((lit(1.0) - col("uniq_grams").cast("double")
          / col("total_grams").cast("double")) * 1000000d) / 1000000d)
          .as("rep_ratio"))
  }

  /** Gopher-style char-mass repetition profile — the duplicate-content
    * metrics the Gopher/MassiveText quality rules threshold on, which
    * [[repetitionRatio]]'s unique-gram COUNT fraction can't express: a doc
    * whose one repeated gram is a 40-char boilerplate phrase is far more
    * repetitive than one repeating a 3-char gram the same number of times.
    * Per (doc, n): `total_mass` = Σ len(gram)·occurrences (the gram char
    * mass), `dup_frac_u` = mass in grams occurring ≥ 2× within the doc,
    * `top_frac_u` = mass of the single most frequent gram (ties to the
    * lexicographically smallest), both as floor micro-unit fractions —
    * ALL-integer arithmetic (BIGINT mass · 10⁶ div mass), so the DuckDB
    * oracle replays every bit. `flagged` applies the Gopher-shaped cut
    * (top gram > 20 % of char mass, or > 60 % duplicated mass).
    *
    * Scale: per n, one (doc_id, gram) partial-agg off the gram window and
    * one per-doc rollup — everything shuffles on doc_id, nothing is
    * corpus-global; the n-loop unions fixed-size plans (|ns| is a
    * hyperparameter, not data). */
  def repetitionProfile(docs: DataFrame, ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ns.map { n =>
      // per-row (doc, gram) counts (tokenTfs, r14) — the rollup exchange
      // was doc-local; the window's doc_id shuffle below is the first one
      val counted = tokenTfs(docs, n)
        .select(col("doc_id"), col("gram"), col("tf").as("cnt"))
        .withColumn("mass", length(col("gram")).cast("long") * col("cnt"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("gram"))
      counted.withColumn("rk", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(sum(col("mass")).as("total_mass"),
          sum(when(col("cnt") >= 2, col("mass")).otherwise(0L)).as("dup_mass"),
          max(when(col("rk") === 1, col("mass"))).as("top_mass"))
        .select(col("doc_id"), lit(n.toLong).as("n"), col("total_mass"),
          expr("dup_mass * 1000000 div total_mass").as("dup_frac_u"),
          expr("top_mass * 1000000 div total_mass").as("top_frac_u"))
    }.reduce(_ unionByName _)
      .withColumn("flagged",
        col("top_frac_u") > 200000L || col("dup_frac_u") > 600000L)
  }

  /** Benchmark decontamination: training docs sharing any token n-gram with
    * a benchmark doc (the standard n-gram-collision test-set-leak check).
    * Distinct (doc, gram) pairs joined through an inverted gram index — the
    * join is on the gram key, so pairs are generated only for actual
    * collisions, never all-pairs; at 100 TB the benchmark side is the small
    * relation and broadcasts. */
  def decontaminate(docs: DataFrame, isBench: Column, n: Int = 8): DataFrame = {
    // per-row distinct (r14): bench is doc-functional, so the corpus-wide
    // distinct this paid was row-local all along
    val gd = tokenGramsDistinct(docs.withColumn("bench", isBench), n)
      .select(col("doc_id"), col("bench"), col("gram"))
    val bench = gd.filter(col("bench")).select(col("doc_id").as("bench_doc"), col("gram"))
    val train = gd.filter(!col("bench")).select(col("doc_id").as("train_doc"), col("gram"))
    train.join(broadcast(bench), Seq("gram"))
      .select(col("train_doc"), col("bench_doc")).distinct()
  }

  /** Line-level exact dedup (the RefinedWeb/Falcon boilerplate-removal pass):
    * segment each document on `sep`, count every segment's occurrences across
    * the WHOLE corpus, drop all copies of any segment occurring more than
    * `maxOcc` times, and reassemble each document's survivors in original
    * order. One posexplode + one global segment-frequency aggregate + an
    * anti-join against the (small) over-represented segment set + one per-doc
    * ordered re-aggregation — every step shuffles on a key, and the dup set
    * is by construction the high-frequency tail, far smaller than the corpus.
    * On real corpora `sep` is "\n"; the synthetic testdata has no newlines,
    * so callers pick a frequent token as the segmenter.
    *
    * @return (doc_id, n_lines, n_kept, text_dedup) — text_dedup = "" when
    *         every segment was boilerplate.
    */
  def lineDedup(docs: DataFrame, sep: String, maxOcc: Long = 1): DataFrame = {
    val lines = Dedup.fanOut(docs).select(col("doc_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
      // the 8-byte hash LEADS every per-line shuffle key: partitioning is
      // driven by a fixed-width, well-mixed prefix instead of raw line bytes
      // (a multi-KB boilerplate line is an expensive shuffle key), while the
      // line itself stays in the key so 64-bit collisions can't conflate two
      // distinct lines
      .withColumn("line_key", xxhash64(col("line")))
    // Materializing the dup set re-grounds its stats in REAL block sizes
    // (FreshCheckpoint), so Catalyst broadcasts the anti-join whenever the
    // over-represented tail is actually small — the typical case: boilerplate
    // is by construction high-frequency, so distinct dup lines ≤ corpus
    // lines / maxOcc. A broadcast anti-join never shuffles the fat lines
    // stream at all, which is ALSO the skew story: all copies of a
    // line-in-30%-of-docs stay where they are instead of funneling into one
    // reducer. If the dup set really is huge, the planner falls back to a
    // shuffle join, where AQE's skew-split applies.
    val dups = FreshCheckpoint(lines
      .groupBy(col("line_key"), col("line")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxOcc).select(col("line_key"), col("line")))
    val kept = lines.join(dups, Seq("line_key", "line"), "left_anti")
    val counts = lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), sep).as("text_dedup"))
    counts.join(keptAgg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_kept")).na.fill("", Seq("text_dedup"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("text_dedup"))
  }

  /** Per-source character-class composition — the writing-system /
    * encoding-health profile that complements [[langId]] (which scores
    * against known-language stopword lists and is blind to, e.g., a feed
    * that silently became 40% digits or control garbage). Per document the
    * char mass splits into letters / digits / whitespace / other via the
    * regexp-strip length trick; the per-source rollup reports each class's
    * integer micro-unit share of the source's TOTAL char mass (mass-
    * weighted, so one long corrupted doc shows up — a doc-mean would dilute
    * it). Pure per-row projections → one (source)-keyed agg; text never
    * moves, only four longs per doc do.
    *
    * @return (source, n_docs, n_chars, letter_u, digit_u, space_u, other_u)
    */
  def charClassProfile(docs: DataFrame): DataFrame = {
    def mass(pat: String): Column =
      length(col("text")) - length(regexp_replace(col("text"), pat, ""))
    Dedup.fanOut(docs).select(col("source"),
        length(col("text")).as("nc"), mass("[A-Za-z]").as("let"),
        mass("[0-9]").as("dig"), mass("[ \\t\\n\\r]").as("spc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
        sum(col("let")).as("sl"), sum(col("dig")).as("sd"),
        sum(col("spc")).as("ss"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        expr("sl * 1000000 div greatest(n_chars, 1)").as("letter_u"),
        expr("sd * 1000000 div greatest(n_chars, 1)").as("digit_u"),
        expr("ss * 1000000 div greatest(n_chars, 1)").as("space_u"),
        expr("(n_chars - sl - sd - ss) * 1000000 div greatest(n_chars, 1)")
          .as("other_u"))
  }

  /** In-document repeated-segment scrub — the PER-DOC de-repetition
    * transform ([[lineDedup]] is the cross-doc twin: it drops segments
    * over-represented in the CORPUS; this drops re-occurrences WITHIN one
    * document — boilerplate that loops inside a page, scraped nav bars,
    * stuttering generators). Keeps each distinct segment's FIRST occurrence
    * in document order, re-joins with the same separator, and accounts for
    * the removed char mass so the cleaning pass is auditable.
    *
    * Scale shape: segment explode → per-doc first-occurrence window (the
    * window partition is ONE document's segments — bounded by doc size, no
    * corpus-wide state) → per-doc re-aggregate. One (doc_id)-keyed shuffle
    * total; nothing cross-doc exists in the plan.
    *
    * @return (doc_id, n_segs, n_kept, removed_chars, text_scrubbed)
    */
  def lineScrub(docs: DataFrame, sep: String): DataFrame = {
    val segs = Dedup.fanOut(docs).select(col("doc_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "seg")))
    val w = Window.partitionBy(col("doc_id"), col("seg")).orderBy(col("pos"))
    segs.withColumn("occ", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("occ") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("occ") > 1, length(col("seg"))).otherwise(0L))
          .as("removed_chars"),
        array_join(transform(array_sort(collect_list(
            when(col("occ") === 1, struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), sep).as("text_scrubbed"))
  }

  /** Quality-filter cascade with an audit trail (the Gopher/RefinedWeb rule
    * stack): every rule that fires lands in a sorted reject-reason list, so
    * downstream can both filter and account for WHY mass was dropped. Pure
    * column expressions over the quality metrics + the unigram repetition
    * ratio — one (doc_id)-shuffle total, inherited from the repetition agg.
    *
    * @return (doc_id, reject_reasons ','-joined sorted, keep).
    */
  def filterCascade(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs)
    val rep = repetitionRatio(docs, 1).select(col("doc_id"), col("rep_ratio"))
    val rules: Seq[(String, Column)] = Seq(
      "too_short" -> (col("n_tokens") < 20),
      "low_stopword" -> (col("stopword_ratio") < 0.02),
      "high_repetition" -> (col("rep_ratio") > 0.65),
      "long_words" -> (col("mean_word_len") > 5.9))
    val reasons = array_sort(filter(
      array(rules.map { case (n, c) => when(c, lit(n)) }: _*), x => x.isNotNull))
    // LEFT join: a zero-token doc produces no grams and hence no repetition
    // row — an inner join would silently drop exactly the junkiest docs from
    // the audit. Its rep_ratio stays NULL, so the repetition rule doesn't
    // fire (NULL comparison → no reason), but the length rules still reject.
    q.join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(reasons, ",").as("reject_reasons"),
        (size(reasons) === 0).as("keep"))
  }

  /** Cascade rule co-fire matrix — the audit that tunes a filter cascade:
    * for every (rule, rule) pair, how many rejected docs fire BOTH. The
    * diagonal is each rule's kill count; an off-diagonal cell near its
    * diagonal means the second rule is redundant (its kills are a subset)
    * and can be dropped from the hot path. Reuses [[filterCascade]]'s
    * reason relation; the pair enumeration is a DOUBLE per-row explode of
    * the ≤ |rules| reason array — no self-join, no shuffle beyond the
    * final rules²-sized aggregate.
    *
    * @return (rule_a ≤ rule_b lexicographically, n_docs)
    */
  def ruleMatrix(docs: DataFrame): DataFrame = {
    val rejected = filterCascade(docs).filter(!col("keep"))
      .select(col("doc_id"), split(col("reject_reasons"), ",").as("rs"))
    rejected.select(col("rs"), explode(col("rs")).as("ra"))
      .select(col("ra"), explode(col("rs")).as("rb"))
      .filter(col("ra") <= col("rb"))
      .groupBy(col("ra").as("rule_a"), col("rb").as("rule_b"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Corpus-level n-gram diversity profile — the distinct-n / self-BLEU-
    * adjacent measurement a pretraining mix needs corpus-wide (the per-doc
    * complement is [[repetitionRatio]]): for each n ≤ `maxN`, the corpus
    * type-token ratio (distinct grams / total grams) and the head
    * concentration (most frequent gram's share). Low TTR or a fat top
    * share flags a templated / boilerplate-heavy slice before it trains.
    *
    * Scale shape: grams are PURE PER-ROW array expressions (no per-doc
    * window, no cross-doc state); the only shuffle is the (n, gram)-keyed
    * count — a vocabulary-sized aggregate with map-side combine — and the
    * per-n rollup on its result. Ratios are integer micro-units
    * (engine-exact `div`).
    *
    * @return (n, total_grams, distinct_grams, max_gram_count, ttr_u,
    *         top_share_u), one row per n
    */
  def corpusDiversity(docs: DataFrame, maxN: Int = 3): DataFrame = {
    val tl = filter(split(lower(col("text")), "\\s+"), x => x =!= "")
    val gramsPerN = (1 to maxN).map { n =>
      Dedup.fanOut(docs).select(tl.as("tl"))
        // sequence(1, stop) DESCENDS when stop < 1 — guard short docs to
        // an empty gram list instead
        .select(explode(expr(
          s"CASE WHEN size(tl) >= $n THEN transform(sequence(1, size(tl) - ${n - 1}), " +
            s"i -> array_join(slice(tl, i, $n), ' ')) ELSE array() END"))
          .as("gram"))
        .withColumn("n", lit(n.toLong))
    }
    gramsPerN.reduce(_ unionByName _)
      .groupBy(col("n"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("n"))
      .agg(sum(col("cnt")).as("total_grams"),
        count(lit(1)).as("distinct_grams"),
        max(col("cnt")).as("max_gram_count"))
      .select(col("n"), col("total_grams"), col("distinct_grams"),
        col("max_gram_count"),
        expr("distinct_grams * 1000000 div total_grams").as("ttr_u"),
        expr("max_gram_count * 1000000 div total_grams").as("top_share_u"))
  }

  /** Token n-grams per document: whitespace tokens in document order,
    * concatenated with single spaces via window leads (carries any extra
    * input columns through). */
  private[ops] def tokenGrams(docs: DataFrame, n: Int): DataFrame = {
    // r13 optimization: the old form posexploded the token stream and built
    // grams with lead() over a (doc_id, pos) window — a full shuffle + sort
    // of the corpus' entire token stream per call, the dominant Exchange of
    // every bm25/impact-index query. [[graft.expr.WordNgrams]] computes the
    // identical gram multiset per ROW (same tokenizer semantics, same
    // single-space join), so gram construction now needs no shuffle at all;
    // the first exchange of every consumer is its own (doc, gram) rollup.
    Dedup.fanOut(docs).select(col("*"),
        explode(graft.expr.VectorOps.wordNgrams(col("text"), n)).as("gram"))
      .drop("text")
  }

  /** Per-row word n-gram COUNTS: [[tokenGrams]] → groupBy(doc_id, gram) →
    * count with the rollup computed inside the scan stage
    * ([[graft.expr.WordNgramCounts]], r14). The gram multiset is
    * doc-local, so the corpus-wide (doc, gram) exchange every bm25/impact
    * consumer paid was pure data movement of keys already unique per map
    * task. Carries any extra input columns through; docs with fewer than
    * n tokens emit nothing (exactly the rows the old rollup dropped). */
  private[ops] def tokenTfs(docs: DataFrame, n: Int): DataFrame = {
    Dedup.fanOut(docs).select(col("*"),
        explode(graft.expr.VectorOps.wordNgramCounts(col("text"), n))
          .as("tc"))
      .drop("text")
      .withColumn("gram", col("tc.tok")).withColumn("tf", col("tc.tf"))
      .drop("tc")
  }

  /** Per-row DISTINCT (…, gram): [[tokenGrams]] → `.distinct()` computed
    * inside the scan stage (r14) — every extra column carried here is
    * doc-functional at the call sites, so `array_distinct` over the
    * per-row gram array is exactly the corpus-wide distinct without its
    * exchange. */
  private[ops] def tokenGramsDistinct(docs: DataFrame, n: Int): DataFrame = {
    Dedup.fanOut(docs).select(col("*"),
        explode(array_distinct(
          graft.expr.VectorOps.wordNgrams(col("text"), n))).as("gram"))
      .drop("text")
  }

  /** BM25 (Robertson/Lucene form) top-k retrieval over an inverted index:
    * score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Terms are word 3-grams, not single tokens — the synthetic corpus has a
    * ~31-word vocabulary where every unigram is effectively a stopword, and
    * real BM25 deployments shingle or stem anyway. The query set is carved
    * deterministically from the corpus (docs with doc_id ≡ 0 mod
    * `queryStride`; their distinct grams, restricted to the document-
    * frequency band [dfMin, N/2] — selective terms only, the same role the
    * WAND upper-bound plays in a search engine: never score on stopword
    * posting lists).
    *
    * Scale shape: the corpus side is ONE explode + (doc, tok) partial-agg;
    * query terms (with their precomputed integerized idf) broadcast onto the
    * tf posting lists as a broadcast hash join — the corpus never shuffles
    * to meet the queries; per-query work is bounded by Σ df ≤ |terms|·dfMax.
    * The broadcast invariant is that the QUERY SET stays broadcast-sized:
    * |qterms| ≈ Σ len(query docs) ≈ sumLen/queryStride grows linearly with
    * the corpus at fixed stride, so past `maxBroadcastQueryTerms` (estimated
    * from sumLen/queryStride — free, no extra job) the hints switch to
    * SHUFFLE_HASH: tf shuffles once on tok, which at that query cardinality
    * is cheaper than materializing a >100 MB broadcast on every executor.
    * Scoring is integer micro-unit arithmetic end-to-end (floor(idf·1e6) ·
    * floor(sat·1e6) summed as BIGINT) so the sum is order-independent and
    * the DuckDB oracle replays it bit-exactly; ranks tie-break by doc_id.
    */
  def bm25TopK(docs: DataFrame, queryStride: Long = 251, topK: Int = 5,
      dfMin: Long = 2, maxBroadcastQueryTerms: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.graft.FreshCheckpoint
    val toks = tokenGrams(docs.select(col("doc_id"), col("text")), 3)
      .select(col("doc_id"), col("gram").as("tok"))
    // tf feeds three consumers (df table, doc lengths, scoring join) —
    // materialize once, never re-explode
    val tf = FreshCheckpoint(
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val len = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val n = docs.count()
    val sumLen = tf.agg(sum(col("tf"))).head().getLong(0)
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= dfMin && col("df") * 2 <= lit(n))
      .select(col("tok"),
        floor(log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * 1000000d).cast("long").as("idf_u"))
    // query-term derivation never shuffles the corpus relations: the query
    // doc-id list broadcasts onto tf, then the resulting (small) gram set
    // broadcasts onto the df-banded idf table — both corpus-sized sides are
    // scanned in place. (idf itself can be vocabulary-sized at scale, so it
    // is the scan side, never a broadcast.)
    // Broadcast only while the estimated query-term cardinality (total
    // corpus grams / stride — both already computed, no extra job) stays
    // bounded; past that the query side itself is corpus-scale and the
    // posting-list join must become a shuffle hash join instead.
    val estQueryTerms = sumLen / math.max(queryStride, 1L)
    val broadcastable = estQueryTerms <= maxBroadcastQueryTerms
    def qHint(df: DataFrame): DataFrame =
      if (broadcastable) broadcast(df) else df.hint("shuffle_hash")
    val qids = docs.filter(col("doc_id") % queryStride === 0)
      .select(col("doc_id").as("query_id"))
    val qgrams = tf.join(qHint(qids), col("doc_id") === col("query_id"))
      .select(col("query_id"), col("tok"))
    val qterms = idf.join(qHint(qgrams), Seq("tok"))
      .select(col("query_id"), col("tok"), col("idf_u"))
    // saturation term, same association order as the oracle SQL
    val sat = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
        lit(0.75) * ((col("len") * lit(n)) / lit(sumLen))))
    // restrict the posting lists to query terms FIRST (broadcast hash join —
    // output bounded by Σ df of the query terms), then attach doc lengths to
    // that small relation, never to the full corpus-sized tf
    val scored = tf.join(qHint(qterms), Seq("tok"))
      .join(len, Seq("doc_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("idf_u") * floor(sat * 1000000d).cast("long")).as("score_u"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_u").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score_u"))
  }

  def tfidfPairs(docs: DataFrame, dfCap: Long = 25, threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.graft.FreshCheckpoint
    val toks = Dedup.fanOut(docs).select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"), x => x =!= "")).as("tok"))
    // tf is consumed twice (df build + weights) and w three times (norms +
    // both sides of the pair join) — materialize each once or the whole
    // explode+groupBy subtree re-executes per consumer (plan showed 3×
    // duplicated Exchange chains). Both are compact post-aggregation
    // relations, not wide exploded ones.
    val tf = FreshCheckpoint(
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val nDocs = docs.count()
    val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
    val w = FreshCheckpoint(tf.join(broadcast(dfTab), Seq("tok"))
      .select(col("doc_id"), col("tok"),
        (col("tf") * floor(lit(1000.0 * nDocs) / col("df")).cast("long")).as("w")))
    val norms = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("ssq"))
    val dots = w.as("x").join(w.as("y"),
        col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(sum(col("x.w") * col("y.w")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("a"), col("ssq").as("sa")), Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("ssq").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("dot").cast("double") /
          (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double")))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
  }

  /** Per-document cross-entropy against the corpus unigram LM — the
    * CCNet-style quality signal: avg −ln p(tok) with p(tok) = cnt/N from
    * the corpus itself. Unusually common-word-heavy docs (boilerplate,
    * keyword stuffing) score LOW; rare-token soup (mojibake, code dumps in
    * a prose corpus) scores HIGH; the band in between is "normal prose" —
    * the filter keeps the band.
    *
    * Shape: one token groupBy builds the LM (vocabulary-sized — ≪ corpus),
    * materialized so its attach back onto the token stream is planned from
    * the measured vocabulary size, and the per-doc average
    * is one partial agg; the corpus-total N is a 1-row broadcast scalar.
    * Per-token terms are floored to 1e-6 units BEFORE summing, so the
    * per-doc sum is an order-independent BIGINT and the integer-division
    * average replays exactly on any engine.
    *
    * @return (doc_id, n_tokens, avg_nll_u) — avg −ln p in 1e-6 units
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = Dedup.fanOut(docs).select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
        .as("tok"))
    // Materializing the LM re-grounds its stats in REAL block sizes
    // (FreshCheckpoint): a groupBy's static estimate tracks its INPUT, so
    // an un-materialized LM over a corpus past the broadcast threshold
    // plans a sort-merge join that shuffles the whole token stream, even
    // when the vocabulary is a few MB (60k docs: 184 MB shuffled, against
    // 88 MB with the LM materialized). Measured, the planner broadcasts it
    // whenever the vocabulary is small, whatever the corpus size.
    val lm = FreshCheckpoint(
      toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
    // N from the LM, not from a second pass over the token explode:
    // vocabulary-sized data only
    val n = lm.agg(sum(col("cnt")).as("n"))
    toks.join(lm, Seq("tok"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"),
        floor((log(col("n").cast("double")) - log(col("cnt").cast("double")))
          * 1000000).cast("long").as("term_u"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("term_u")).as("sum_u"))
      .select(col("doc_id"), col("n_tokens"),
        expr("sum_u div n_tokens").as("avg_nll_u"))
  }

  /** Per-source LM domain shift — the train/val generalization gap measured
    * per corpus slice: a Laplace-smoothed unigram LM is fit on the TRAIN
    * side of the deterministic hash split ([[graft.ops.TrainingData
    * .hashSplit]]'s bucket rule), then each source's token-weighted mean
    * NLL is scored on its train and val sides; `shift_u` = val − train in
    * integer micro-nats. A source whose val side scores much worse than
    * its train side is heterogeneous or drifting (the LM memorized its
    * train half) — the slice to re-mix or re-crawl. Smoothing is add-one
    * over N+V+1, so val-only (OOV) tokens score finitely and identically
    * on any engine.
    *
    * Scale shape: one token explode → vocabulary-sized LM aggregate
    * (map-side combine) → LM attach (broadcast below the dimension bound,
    * sized via the memoized [[graft.ops.Similarity.corpusCount]], else a
    * shuffle join on tok) → (source, split) rollup. Token
    * NLLs are floor'd micro-units BEFORE summation, so accumulation order
    * can't drift.
    *
    * @return (source, n_train_tokens, n_val_tokens, train_nll_u,
    *         val_nll_u, shift_u) for sources with mass on both sides
    */
  def domainShift(docs: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    val bucket = graft.expr.Hash60.h60Col(col("doc_id").cast("string")) % 100
    val sided = Dedup.fanOut(docs).select(col("doc_id"), col("source"),
        col("text"),
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val").as("split"))
      .filter(col("split").isNotNull)
    val toks = sided.select(col("source"), col("split"),
      explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
        .as("tok"))
    val lm = toks.filter(col("split") === "train")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val nv = lm.agg(sum(col("cnt")).as("n"), count(lit(1)).as("v"))
    // a row-count gate, not unigramLogProb's materialized LM: at 60k docs
    // the extra pass over the split token stream cost more (+20 % time)
    // than the broadcast it buys, and the planner alone, sizing the LM
    // from the corpus, shuffles the token stream (75 → 176 MB)
    val lmHint =
      if (Similarity.corpusCount(docs) <= graft.Limits.dimensionRows)
        broadcast(lm)
      else lm
    val scored = toks.join(lmHint, Seq("tok"), "left")
      .crossJoin(broadcast(nv))
      .select(col("source"), col("split"),
        floor((log(col("n").cast("double") + col("v") + 1d)
            - log(coalesce(col("cnt"), lit(0L)).cast("double") + 1d))
          * 1000000).cast("long").as("term_u"))
    val agg = scored.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_toks"), sum(col("term_u")).as("sum_u"))
    val tr = agg.filter(col("split") === "train").select(col("source"),
      col("n_toks").as("n_train_tokens"),
      expr("sum_u div n_toks").as("train_nll_u"))
    val va = agg.filter(col("split") === "val").select(col("source"),
      col("n_toks").as("n_val_tokens"),
      expr("sum_u div n_toks").as("val_nll_u"))
    tr.join(va, Seq("source"))
      .select(col("source"), col("n_train_tokens"), col("n_val_tokens"),
        col("train_nll_u"), col("val_nll_u"),
        (col("val_nll_u") - col("train_nll_u")).as("shift_u"))
  }

  /** CCNet-style perplexity prune plan — the "keep the middle" chooser over
    * a per-source LM-score distribution (CCNet buckets each language's docs
    * into head/middle/tail by perplexity percentile; head can be
    * over-clean boilerplate, tail is noise): per (source, nll bin of
    * `binUnit` µ-nats), doc count, cumulative mass BEFORE the bin, source
    * total, and the bucket the WHOLE bin falls in by its cumulative start
    * position (head = first `headPct`%, tail = last `tailPct`%). Bucket
    * assignment is deliberately bin-granular — a boundary bin lands
    * entirely on one side, deterministically, with no per-doc percentile
    * rank (which would need a per-source global sort); tighten `binUnit`
    * to tighten the boundary, the audit columns expose exactly where the
    * cut landed.
    *
    * Scale shape: [[unigramLogProb]]'s vocabulary-sized LM (one token
    * explode) → per-doc NLL → (source, bin) agg; the cumulation windows
    * run on per-source BIN rows (bounded by the NLL range over binUnit,
    * ~200), never corpus rows. Zero-token docs produce no LM row and are
    * absent from the plan (they are the cascade's casualty, not the
    * pruner's).
    *
    * @return (source, bin, n_docs, cum_before, total, bucket)
    */
  def perplexityPrune(docs: DataFrame, headPct: Int = 10, tailPct: Int = 30,
      binUnit: Long = 100000L): DataFrame = {
    val nll = unigramLogProb(docs)
      .select(col("doc_id"), col("avg_nll_u"))
    val src = Dedup.fanOut(docs).select(col("doc_id"), col("source"))
    val binned = nll.join(src, Seq("doc_id"))
      .select(col("source"), expr(s"avg_nll_u div $binUnit").as("bin"))
      .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("source")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = Window.partitionBy(col("source"))
    binned
      .withColumn("cum_before", coalesce(sum(col("n_docs")).over(w), lit(0L)))
      .withColumn("total", sum(col("n_docs")).over(tot))
      .select(col("source"), col("bin"), col("n_docs"), col("cum_before"),
        col("total"),
        when(col("cum_before") * 100 < col("total") * headPct, "head")
          .when(col("cum_before") * 100 < col("total") * (100 - tailPct),
            "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Per-document top-`k` TF-IDF keywords — the tagging/faceting step of a
    * corpus pipeline (and the cheap "what is this doc about" signal for
    * mixture routing). Same integerized weighting as [[tfidfPairs]]
    * (tf · ⌊1000·N/df⌋ — exact on any engine), df-banded to drop hapaxes
    * and corpus-half stopwords, then one per-doc window pass; the doc
    * texts never move past the token aggregate.
    *
    * @return (doc_id, tok, w_u, rk), rk ≤ k by (weight desc, tok)
    */
  def keywords(docs: DataFrame, k: Int = 3, minDf: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Dedup.fanOut(docs).select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
        .as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val nDocs = docs.count()
    val dft = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") * 2 <= nDocs)
    // nDocs is counted for the weights anyway, so this gate costs no job.
    // The df table's static estimate tracks tf, not the vocabulary, and
    // materializing it would shuffle tf a second time (+18 % shuffle bytes
    // at 60k docs), so the dictionary-size gate stays.
    val hint: DataFrame => DataFrame =
      if (nDocs <= graft.Limits.dimensionRows) broadcast(_) else identity
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("w_u").desc, col("tok"))
    tf.join(hint(dft), Seq("tok"))
      .select(col("doc_id"), col("tok"),
        (col("tf") * floor(lit(1000.0 * nDocs) / col("df")).cast("long"))
          .as("w_u"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("tok"), col("w_u"), col("rk"))
  }

  /** Windowed PMI co-occurrence pairs — the distributional-statistics
    * primitive (collocation mining, phrase induction, embedding-training
    * diagnostics): PMI(a,b) = ln(p(a,b) / (p(a)·p(b))) over co-occurrence
    * events within `window` token positions.
    *
    * Scale shape: the event space is enumerated by an EQUI-join — each
    * kept token explodes into its `window` forward probe positions and
    * meets the token stream on (doc, position) — so enumeration is
    * len·window per document, never len². The frequency band
    * ([minCount, N/maxShareInv]) drops both hapaxes (PMI is noise at
    * c_ab≈1) and stopwords (whose probe fan-out would dominate the join
    * for no signal). The PMI itself is one ln-expression per surviving
    * pair, integerized for the order-independent top-k.
    *
    * @return top `topK` (a, b, n_cooc, pmi_u) by (pmi desc, a, b)
    */
  def pmiPairs(docs: DataFrame, window: Int = 3, minCount: Long = 5,
      maxShareInv: Long = 20, minPair: Long = 5, topK: Int = 200): DataFrame = {
    val toks = Dedup.fanOut(docs).select(col("doc_id"),
      posexplode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
        .as(Seq("pos", "tok")))
    // the unigram counts and the band are vocabulary-sized: both are
    // materialized (see unigramLogProb) so the band's three attaches are
    // planned from its measured size; N is summed from the counts, so the
    // token stream is aggregated once
    val cw = FreshCheckpoint(toks.groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val n = cw.agg(sum(col("c")).as("n"))
    val band = FreshCheckpoint(cw.crossJoin(broadcast(n))
      .filter(col("c") >= minCount && col("c") * maxShareInv <= col("n"))
      .select(col("tok"), col("c")))
    val t = toks.join(band.select(col("tok")), Seq("tok"))
    val probes = t.select(col("doc_id"), col("tok").as("t1"),
      explode(sequence(col("pos") + 1, col("pos") + window)).as("pp"))
    val ev = probes.join(
        t.select(col("doc_id"), col("pos").as("pp"), col("tok").as("t2")),
        Seq("doc_id", "pp"))
      .select(least(col("t1"), col("t2")).as("a"),
        greatest(col("t1"), col("t2")).as("b"))
    // group FIRST, then derive both the pair total and the kept pairs from
    // the grouped relation — the event stream (the expensive subtree) is
    // aggregated once and P's re-aggregation reuses that exchange instead
    // of re-enumerating every co-occurrence
    val cabAll = ev.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val p = cabAll.agg(sum(col("cab")).as("p"))
    val cab = cabAll.filter(col("cab") >= minPair)
    cab
      .join(band.select(col("tok").as("a"), col("c").as("ca")), Seq("a"))
      .join(band.select(col("tok").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(broadcast(p)).crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("cab").as("n_cooc"),
        floor((log(col("cab").cast("double")) - log(col("p").cast("double"))
          + lit(2) * log(col("n").cast("double"))
          - log(col("ca").cast("double")) - log(col("cb").cast("double")))
          * 1000000).cast("long").as("pmi_u"))
      .orderBy(col("pmi_u").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Per-document bigram cross-entropy under an add-1-smoothed bigram LM
    * trained on the corpus itself — the sharper perplexity signal next to
    * [[unigramLogProb]] (a doc of common words in an ungrammatical ORDER
    * scores fluent under a unigram LM, degenerate under a bigram one).
    *
    * nll(w₁w₂) = ln((c(w₁) + V) / (c(w₁w₂) + 1)), V = vocabulary size.
    *
    * Scale shape: bigram events enumerate via the (doc, pos+1) equi-join on
    * the positional token stream (same as [[pmiPairs]] — never len² work);
    * the bigram count table is corpus-vocabulary-sized and attaches back by
    * an equi-join on the pair key, the unigram counts by one on w₁, and V
    * is a 1-row broadcast scalar.
    *
    * @return (doc_id, n_bigrams, avg_nll_u) for docs with ≥ 1 bigram;
    *         avg_nll_u = Σfloor(nll·1e6) div n
    */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val toks = Dedup.fanOut(docs).select(col("doc_id"),
      posexplode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
        .as(Seq("pos", "tok")))
    val bigrams = toks.select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("tok").as("w1"))
      .join(toks.select(col("doc_id"), col("pos"), col("tok").as("w2")),
        Seq("doc_id", "pos"))
    val cw = toks.groupBy(col("tok").as("w1")).agg(count(lit(1)).as("c1"))
    val v = cw.agg(count(lit(1)).as("v"))
    val cb = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
    bigrams.join(cb, Seq("w1", "w2"))
      .join(cw, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        floor((log(col("c1").cast("double") + col("v").cast("double"))
          - log(col("cab").cast("double") + 1d)) * 1000000)
          .cast("long").as("term_u"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term_u")).as("sum_u"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_u div n_bigrams").as("avg_nll_u"))
  }

  /** One round of BPE merge-candidate statistics (Sennrich et al. 2016 —
    * the inner loop of tokenizer training): corpus-weighted counts of
    * adjacent symbol pairs, here over character symbols. The would-be next
    * merge is the top pair.
    *
    * Scale shape — the BPE trick IS the scale path: aggregate the corpus to
    * its WORD VOCABULARY first (Heaps-law-sized, with corpus frequencies),
    * then enumerate symbol pairs over vocabulary entries only; the corpus
    * text is never touched again after the word count's partial-agg
    * groupBy. Pair enumeration is a per-row array expression
    * (multiplicity-preserving), and the final pair aggregate is
    * vocabulary × word-length sized.
    *
    * @return top `k` (pair, weight) by (weight desc, pair) — weight = total
    *         corpus occurrences of the adjacent pair
    */
  def bpePairStats(docs: DataFrame, k: Int = 100): DataFrame = {
    val words = Dedup.fanOut(docs).select(
        explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    words.filter(length(col("w")) >= 2)
      .select(col("freq"),
        explode(expr("transform(sequence(1, length(w) - 1), " +
          "p -> substring(w, p, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("weight"))
      .orderBy(col("weight").desc, col("pair"))
      .limit(k)
  }

  /** Per-document n-gram novelty — the memorization-risk / contribution
    * signal: what fraction of a doc's DISTINCT n-grams appear nowhere else
    * in the corpus (df = 1). High novelty = unique long-tail content worth
    * keeping; near-zero novelty = the doc is assembled from corpus
    * boilerplate (even if no single near-dup partner exists — the signal
    * LSH pair-finding structurally can't produce). One distinct
    * (doc, gram) pass, one gram-keyed df aggregate, one doc-keyed rollup;
    * every shuffle is on the gram or doc key.
    *
    * @return (doc_id, n_grams, n_unique, novelty_u) — floor micro-units
    */
  def gramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val g = tokenGramsDistinct(docs, n).select(col("doc_id"), col("gram"))
    val dfreq = g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    g.join(dfreq, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        expr("n_unique * 1000000 div n_grams").as("novelty_u"))
  }

  /** The full BPE training loop (Sennrich et al. 2016), `rounds` merges
    * deep — what [[bpePairStats]]'s single-round statistics feed: per round,
    * elect the heaviest adjacent symbol pair (ties to the lexicographically
    * smallest) and MERGE it left-to-right non-overlapping across the
    * vocabulary, then recount. The left-to-right rule is relational, not
    * sequential: within each maximal run of consecutive match positions,
    * exactly the odd match ordinals merge (a run of k overlapping matches —
    * possible only when p0 = p1 — merges ⌈k/2⌉ times, exactly what a
    * sequential scan does), a gaps-and-islands window over (word, pos).
    *
    * Scale shape — the BPE trick IS the scale path: ONE corpus pass builds
    * the Heaps-law-sized word-frequency vocabulary; every merge round
    * (explode → pair weights → 1-row best-pair scalar → island windows →
    * per-word re-aggregation) runs on vocabulary rows only. `rounds` is a
    * plan-size knob, not a data knob; each round's vocabulary is
    * plan-isolated via [[org.apache.spark.sql.graft.FreshCheckpoint]] so
    * the unrolled chain keeps honest size statistics.
    *
    * @return one row per round: (round, pair "p0 p1", weight = corpus
    *         occurrences at election time, n_symbols = corpus symbol count
    *         AFTER applying the merge)
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (merges, _) = bpeRounds(docs, rounds)
    merges.reduce(_ unionByName _)
  }

  /** Per-source tokenizer-quality metrics after `rounds` BPE merges —
    * fertility (symbols emitted per word; the standard tokenizer-fit
    * measure, high on out-of-domain sources) and compression (chars per
    * symbol), both floor micro-unit integer ratios. One corpus word-count
    * pass per source joined against the [[bpeMerges]]-trained vocabulary —
    * the (word, syms) relation stays vocabulary-sized. */
  def tokenizerFertility(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (_, vocab) = bpeRounds(docs, rounds)
    val srcWords = Dedup.fanOut(docs).select(col("source"),
        explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("occ"))
    srcWords.join(vocab.select(col("w"), size(col("syms")).cast("long").as("ns")),
        Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("occ")).as("n_tokens"),
        sum(col("occ") * col("ns")).as("n_symbols"),
        sum(col("occ") * length(col("w")).cast("long")).as("n_chars"))
      .select(col("source"), col("n_tokens"), col("n_symbols"),
        expr("n_symbols * 1000000 div n_tokens").as("fertility_u"),
        expr("n_chars * 1000000 div n_symbols").as("compression_u"))
  }

  /** Apply the trained BPE merges to the corpus — the ENCODE step that
    * completes the train (q211) → encode → pack tokenizer story: after
    * `rounds` merges, every document's token stream is segmented by the
    * trained vocabulary and rolled up to its encoded statistics. What
    * [[TrainingData.sequencePackingBy]] packs when sequence budgets are
    * measured in REAL tokenizer tokens instead of whitespace words.
    *
    * Scale shape — encoding never re-touches characters corpus-side: the
    * trained vocabulary (w → syms) is Heaps-law-sized, so the corpus cost
    * is one (doc, word)-keyed count aggregate plus a word-keyed join
    * against the vocabulary; each doc's encoded length is Σ occ·|syms(w)|.
    * Per-character merge work happened once, on vocabulary rows, inside
    * the training loop.
    *
    * Documents with no tokens (empty/whitespace text) have no encoding and
    * drop out — same population rule as [[tokenizerFertility]].
    *
    * @return (doc_id, n_words, n_bpe_tokens, n_chars, fertility_u) —
    *         fertility_u = ⌊n_bpe_tokens·10⁶ / n_words⌋
    */
  def bpeEncode(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (_, vocab) = bpeRounds(docs, rounds)
    val dw = Dedup.fanOut(docs).select(col("doc_id"),
        explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("occ"))
    dw.join(vocab.select(col("w"), size(col("syms")).cast("long").as("ns")),
        Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_words"),
        sum(col("occ") * col("ns")).as("n_bpe_tokens"),
        sum(col("occ") * length(col("w")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        col("n_chars"),
        expr("n_bpe_tokens * 1000000 div n_words").as("fertility_u"))
  }

  /** Shared merge-loop driver: (per-round 1-row merge relations, final
    * vocabulary (w, freq, syms)). */
  private def bpeRounds(docs: DataFrame,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val v0 = Dedup.fanOut(docs).select(
        explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", filter(split(col("w"), ""), x => x =!= ""))
    val out = Seq.newBuilder[DataFrame]
    var v = FreshCheckpoint(v0)
    for (r <- 1 to rounds) {
      val wp = Window.partitionBy(col("w")).orderBy(col("pos"))
      val pos = v.select(col("w"), col("freq"),
          posexplode(col("syms")).as(Seq("pos", "s")))
        .withColumn("s2", lead(col("s"), 1).over(wp))
      val weights = pos.filter(col("s2").isNotNull)
        .groupBy(concat_ws(" ", col("s"), col("s2")).as("pair"))
        .agg(sum(col("freq")).as("weight"))
      // best pair: max weight, ties to the smallest pair — two chained
      // 1-row scalar aggregations (a struct max can't tie-break a string
      // ascending under a numeric descending)
      val mw = weights.agg(max(col("weight")).as("mw"))
      val best = weights.join(broadcast(mw), col("weight") === col("mw"))
        .agg(min(col("pair")).as("bp"), max(col("weight")).as("bw"))
        .select(col("bp"), col("bw"),
          element_at(split(col("bp"), " "), 1).as("p0"),
          element_at(split(col("bp"), " "), 2).as("p1"))
      val flagged = pos.crossJoin(broadcast(best))
        .withColumn("mtch", col("s2").isNotNull &&
          col("s") === col("p0") && col("s2") === col("p1"))
        .withColumn("grp",
          sum(when(!col("mtch"), 1L).otherwise(0L)).over(wp))
      val wg = Window.partitionBy(col("w"), col("grp")).orderBy(col("pos"))
      val merged = flagged
        .withColumn("mo", sum(when(col("mtch"), 1L).otherwise(0L)).over(wg))
        .withColumn("merged", col("mtch") && col("mo") % 2 === 1)
        .withColumn("consumed",
          coalesce(lag(col("merged"), 1).over(wp), lit(false)))
        .filter(!col("consumed"))
        .withColumn("ns",
          when(col("merged"), concat(col("s"), col("s2"))).otherwise(col("s")))
      val rebuilt = merged.groupBy(col("w"), col("freq"))
        .agg(array_sort(collect_list(struct(col("pos"), col("ns")))).as("p"))
        .select(col("w"), col("freq"),
          expr("transform(p, q -> q.ns)").as("syms"))
      v = FreshCheckpoint(rebuilt)
      val nSym = v.agg(sum(col("freq") * size(col("syms")).cast("long"))
        .as("n_symbols"))
      out += best.select(lit(r.toLong).as("round"), col("bp").as("pair"),
          col("bw").as("weight"))
        .crossJoin(broadcast(nSym))
    }
    (out.result(), v)
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore & Lewis
    * 2010) — the classic "find more like my target domain" scorer: a
    * Laplace-smoothed unigram LM on the `targetSource` slice and one on
    * the whole corpus, every document scored by Σ_tok (nll_in − nll_gen).
    * Negative sums read "closer to the target domain than to the corpus
    * average" — the docs to pull into a target-heavy mix first
    * (`in_domain`); magnitude ranks them. Both LMs smooth add-one over
    * the SAME full-corpus vocabulary (N + V + 1), so an OOV-in-domain
    * token scores finitely against both and the difference stays
    * comparable across sources.
    *
    * The relation deliberately emits the integer SUM, not the mean: the
    * engines' integer-division semantics differ on NEGATIVES (Spark `div`
    * truncates toward zero, DuckDB `//` floors), so the portable per-doc
    * statistics are the sum and the token count — a consumer picks its
    * own normalization.
    *
    * Scale shape: ONE token explode feeds both LMs (the in-domain counts
    * ride the general LM's aggregate as a conditional sum — no second
    * corpus pass, no LM join); the vocabulary-sized LM relation is
    * materialized as in [[unigramLogProb]] and attaches on tok; per-token
    * integer terms then one (doc)-keyed rollup.
    *
    * @return (doc_id, source, n_tokens, sum_ced_u, in_domain)
    */
  def mooreLewisScore(docs: DataFrame, targetSource: String): DataFrame = {
    val toks = Dedup.fanOut(docs).select(col("doc_id"), col("source"),
      explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
        .as("tok"))
    val lm = FreshCheckpoint(toks.groupBy(col("tok")).agg(
      count(lit(1)).as("cnt_gen"),
      sum(when(col("source") === targetSource, 1L).otherwise(0L))
        .as("cnt_in")))
    val nv = lm.agg(sum(col("cnt_gen")).as("n_gen"),
      sum(col("cnt_in")).as("n_in"), count(lit(1)).as("v"))
    toks.join(lm, Seq("tok"))
      .crossJoin(broadcast(nv))
      .select(col("doc_id"), col("source"),
        (floor((log(col("n_in").cast("double") + col("v") + 1d)
            - log(col("cnt_in").cast("double") + 1d)) * 1000000)
          - floor((log(col("n_gen").cast("double") + col("v") + 1d)
            - log(col("cnt_gen").cast("double") + 1d)) * 1000000))
          .cast("long").as("term_u"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("term_u")).as("sum_ced_u"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("sum_ced_u"), (col("sum_ced_u") < 0).as("in_domain"))
  }

  /** Pairwise source divergence — Jensen–Shannon divergence between every
    * two sources' unigram distributions, the LEXICAL mixture-design
    * complement to [[Dedup.crossSourceMatrix]] (that one finds literal
    * duplication; this finds stylistic/topical overlap even with zero
    * shared documents — two news feeds read "close" here long before LSH
    * fires). Low JSD pairs are redundant weight in a pretraining mixture;
    * high JSD pairs are the diversity the mixture is buying.
    *
    * Per shared token, T = p_x·ln(2p_x/(p_x+p_y)) + p_y·ln(2p_y/(p_x+p_y))
    * (≥ 0 by the log-sum inequality), floor'd to µ-nats BEFORE summation;
    * tokens present in only one source contribute exactly p·ln 2, folded
    * in as two residual-mass terms; jsd_u = (Σ + r_x + r_y) div 2 ∈
    * [0, ln 2·10⁶]. Accumulation order can't drift any term.
    *
    * Scale shape: ONE token explode → a (source, tok) agg (vocabulary ×
    * |sources| rows) → a |sources|-row broadcast of totals → the tok-keyed
    * pair join (≤ |sources|²/2 rows per vocabulary entry — vocabulary
    * scaled, never corpus scaled) → one pair-keyed rollup (≤ |sources|²/2
    * output rows).
    *
    * @return (source_x, source_y, shared_toks, overlap_x_u, overlap_y_u,
    *         jsd_u)
    */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val toks = Dedup.fanOut(docs).select(col("source"),
      explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
        .as("tok"))
    val st = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val totals = st.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    def side(t: String) = st.join(broadcast(totals), Seq("source"))
      .select(col("source").as(s"source_$t"), col("tok"),
        col("cnt").as(s"c$t"), col("n").as(s"n$t"))
    val px = col("cx").cast("double") / col("nx")
    val py = col("cy").cast("double") / col("ny")
    val termU = floor((px * log(lit(2d) * px / (px + py))
      + py * log(lit(2d) * py / (px + py))) * 1000000d).cast("long")
    side("x").join(side("y"), Seq("tok"))
      .filter(col("source_x") < col("source_y"))
      .select(col("source_x"), col("source_y"), col("cx"), col("cy"),
        col("nx"), col("ny"), termU.as("term_u"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("shared_toks"), sum(col("cx")).as("mx"),
        sum(col("cy")).as("my"), max(col("nx")).as("nx"),
        max(col("ny")).as("ny"), sum(col("term_u")).as("m_u"))
      .withColumn("rx_u",
        floor((col("nx") - col("mx")).cast("double") / col("nx")
          * log(lit(2d)) * 1000000d).cast("long"))
      .withColumn("ry_u",
        floor((col("ny") - col("my")).cast("double") / col("ny")
          * log(lit(2d)) * 1000000d).cast("long"))
      .select(col("source_x"), col("source_y"), col("shared_toks"),
        expr("mx * 1000000 div nx").as("overlap_x_u"),
        expr("my * 1000000 div ny").as("overlap_y_u"),
        expr("(m_u + rx_u + ry_u) div 2").as("jsd_u"))
  }

  /** Language-label confusion audit — declared `lang` metadata vs
    * [[langId]]'s heuristic prediction, rolled to confusion cells: mass,
    * corpus share, mean winning score and the mismatch flag. Mislabeled
    * language is a classic silent pretraining defect (a "de" slice that is
    * actually English dilutes both languages); the off-diagonal cells are
    * the re-labeling / re-crawl worklist and the diagonal's mean score is
    * the confidence floor the heuristic clears on agreeing mass.
    *
    * Scale shape: [[langId]]'s per-row scoring → ONE (lang, lang_pred) agg
    * (≤ |langs|² cells) → a 1-row total attach.
    *
    * @return (lang, lang_pred, n_docs, share_u, mean_score, mismatch)
    */
  def langConfusion(docs: DataFrame): DataFrame = {
    val pred = langId(docs)
    val cells = Dedup.fanOut(docs).select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("lang_score")).as("sum_score"))
    val tot = cells.agg(sum(col("n_docs")).as("n"))
    cells.crossJoin(broadcast(tot))
      .select(col("lang"), col("lang_pred"), col("n_docs"),
        expr("n_docs * 1000000 div n").as("share_u"),
        expr("sum_score div n_docs").as("mean_score"),
        (col("lang") =!= col("lang_pred")).as("mismatch"))
  }

  /** Vocabulary frequency spectrum — the count-of-counts corpus-health
    * audit (Zipf's-law shape check without a global rank sort): per
    * ⌊log₂ count⌋ bin over the vocabulary, type count and token mass,
    * with the corpus totals and the hapax-type share riding every row. A
    * hapax share far above the Zipfian ~50% is the OCR-noise / tokenizer-
    * mismatch / encoding-corruption signature (each corruption mints a
    * new type); a collapsed spectrum (few bins) is the synthetic-text
    * signature. The log₂ bins replace the per-type rank a Zipf plot wants
    * — a rank is a global sort over the vocabulary, and the spectrum
    * carries the same shape information binned.
    *
    * Scale shape: ONE token explode → vocabulary agg → a ≤64-row bin agg
    * + a 1-row totals attach. Nothing past the vocab agg is corpus-sized.
    *
    * @return (bin, n_types, token_mass, n_types_total, n_tokens_total,
    *         hapax_share_u)
    */
  def vocabSpectrum(docs: DataFrame): DataFrame = {
    val vocab = Dedup.fanOut(docs)
      .select(explode(filter(split(lower(col("text")), "\\s+"),
        x => x =!= "")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // floor-log2 via bin-string length (the q222 trick) — engine-exact at
    // power-of-two boundaries where a double log2 can land on either side
    val bins = vocab
      .select((length(bin(col("cnt"))) - 1).cast("long").as("bin"),
        col("cnt"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("token_mass"))
    val tot = bins.agg(sum(col("n_types")).as("n_types_total"),
      sum(col("token_mass")).as("n_tokens_total"),
      sum(when(col("bin") === 0, col("n_types")).otherwise(lit(0L)))
        .as("n_hapax_bin"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_types"), col("token_mass"),
        col("n_types_total"), col("n_tokens_total"),
        expr("n_hapax_bin * 1000000 div n_types_total").as("hapax_share_u"))
  }

  /** Pairwise source VOCABULARY overlap — the set-based complement of
    * [[sourceDivergence]]'s mass-based JSD (two sources can share most of
    * their vocabulary yet weight it very differently, and vice versa; a
    * mixture design wants both numbers). Per unordered source pair with at
    * least one shared type: shared-type count, both vocabulary sizes,
    * Jaccard and small-side containment in µ (containment near 10⁶ with a
    * low Jaccard = one source's vocabulary nests inside the other's — a
    * subset corpus).
    *
    * Scale shape: distinct (source, tok) is one shuffle; the pair join is
    * tok-keyed with per-token fan-out bounded by |sources|²; sizes attach
    * as two |sources|-row joins. Everything after tokenization is
    * vocabulary-sized, never corpus-sized.
    *
    * @return (source_x, source_y, n_shared, sz_x, sz_y, jaccard_u,
    *         containment_u), source_x < source_y
    */
  /** Vocabulary growth curve (Heaps' law audit) — distinct-type
    * accumulation over the corpus in doc_id order, bucketed: is the corpus
    * still contributing new vocabulary, or has ingestion gone stale /
    * duplicative? A flattening type–token ratio is the earliest
    * macro-signal of a crawl re-collecting itself (before any pair-level
    * dedup fires).
    *
    * Scale shape: a type is "new" in the bucket of its FIRST occurrence —
    * one (tok → min doc_id) vocabulary-sized aggregate, never a scan
    * ordered by doc; occurrence mass is a per-bucket count off the same
    * token explode. Both roll to the DENSE bucket grid (the
    * [[TimeSeries.cusum]] grid discipline: cardinality is id-range /
    * `bucketDocs` — a REPORT, sized by the caller, not the corpus), and
    * the cumulative windows run over that bounded grid only.
    *
    * @return one row per bucket: (bucket, n_docs, n_tokens, n_new_types,
    *         cum_tokens, cum_types, ttr_u) — ttr_u = ⌊cum_types·10⁶ /
    *         cum_tokens⌋, the cumulative type–token ratio
    */
  def vocabGrowth(docs: DataFrame, bucketDocs: Long = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Bucketing is exact int64 FLOOR division (the oracle's `//`
    // semantics): subtracting pmod makes the numerator exactly divisible,
    // so `div` (truncating integral division) lands on the floor for
    // negative ids too, and the arithmetic never leaves 64-bit integers —
    // the previous double `/` then cast truncated toward zero AND lost
    // exactness past 2^53.
    val toks = Dedup.fanOut(docs).select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
        .as("tok"))
    val firstB = toks.groupBy(col("tok"))
      .agg(min(col("doc_id")).as("mn"))
      .select(expr(s"(mn - pmod(mn, ${bucketDocs}L)) div ${bucketDocs}L")
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_types"))
    val mass = toks
      .select(expr(s"(doc_id - pmod(doc_id, ${bucketDocs}L)) div ${bucketDocs}L")
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val ndocs = docs
      .select(expr(s"(doc_id - pmod(doc_id, ${bucketDocs}L)) div ${bucketDocs}L")
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val grid = ndocs.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("bucket"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(ndocs, Seq("bucket"), "left")
      .join(mass, Seq("bucket"), "left")
      .join(firstB, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
      .withColumn("ttr_u",
        expr("cum_types * 1000000 div greatest(cum_tokens, 1)"))
  }

  /** Zipf rank–frequency CLASS relation — the rank-vs-count law expressed
    * without ever ranking individual types: all types sharing a count form
    * one class, and the class's rank interval follows from the running
    * type count over the FREQUENCY domain (bounded at O(√corpus-tokens)
    * distinct counts — the same value-domain-histogram discipline as
    * [[Quantiles]], never a vocabulary-sized sort). Under Zipf,
    * cnt · midrank is ~constant down the table; deviations flag templated
    * or synthetic text. Emitted exactly (counts and rank bounds only — no
    * products, so nothing overflows at any corpus size).
    *
    * @return one row per distinct count: (cnt, n_types, rank_lo, rank_hi),
    *         rank_lo = 1 + #types with a larger count
    */
  def zipfClasses(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fof = Dedup.fanOut(docs).select(
        explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt")).agg(count(lit(1)).as("n_types"))
    fof
      .withColumn("cum_ge",
        sum(col("n_types")).over(Window.orderBy(col("cnt").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("cnt"), col("n_types"),
        (col("cum_ge") - col("n_types") + 1L).as("rank_lo"),
        col("cum_ge").as("rank_hi"))
  }

  /** Token burstiness / source concentration — for the corpus's top-k
    * types, how concentrated is each type's mass in a single source? A
    * high-frequency token living ≥90 % in one source is boilerplate or a
    * template artifact of THAT source (navigation chrome, license
    * headers), not language — the cross-source complement of
    * [[gramNovelty]]'s df=1 signal.
    *
    * Scale shape: one (tok, source) count aggregate (vocabulary × sources
    * sized, tok-keyed shuffle), one tok-keyed rollup, and a
    * TakeOrderedAndProject top-k (per-partition heads, no global sort).
    *
    * @return top `k` by (total desc, tok): (tok, total, n_sources,
    *         top_source_cnt, top_share_u)
    */
  def burstyTokens(docs: DataFrame, k: Int = 100): DataFrame = {
    val ts = Dedup.fanOut(docs).select(col("source"),
        explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .as("tok"))
      .groupBy(col("tok"), col("source")).agg(count(lit(1)).as("cnt"))
    ts.groupBy(col("tok"))
      .agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_sources"),
        max(col("cnt")).as("top_source_cnt"))
      .select(col("tok"), col("total"), col("n_sources"),
        col("top_source_cnt"),
        expr("top_source_cnt * 1000000 div total").as("top_share_u"))
      .orderBy(col("total").desc, col("tok"))
      .limit(k)
  }

  /** Vocabulary delta between two corpus snapshots — the cross-snapshot
    * sibling of [[vocabGrowth]] (which watches types accrue WITHIN one
    * corpus): per source of the CURRENT snapshot, how many of its distinct
    * types did the BASE snapshot not know? A near-zero new-type share
    * across a crawl refresh means the refresh re-collected old content
    * (the snapshot-level staleness gauge); a spike in one source flags a
    * domain shift there.
    *
    * Scale shape: two vocabulary aggregates (Heaps-sized) + one tok-keyed
    * LEFT ANTI join + a |sources|-row rollup — the corpus text is scanned
    * once per snapshot, everything downstream is vocabulary-sized.
    *
    * @return one row per current source: (source, n_types, n_new_types,
    *         new_share_u)
    */
  def vocabDelta(base: DataFrame, current: DataFrame): DataFrame = {
    def vocab(df: DataFrame, cols: Column*): DataFrame =
      Dedup.fanOut(df).select(cols :+
        explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .as("tok"): _*).distinct()
    val cur = vocab(current, col("source"))
    val known = vocab(base).select(col("tok")).distinct()
    val newToks = cur.join(known, Seq("tok"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_new_types"))
    cur.groupBy(col("source")).agg(count(lit(1)).as("n_types"))
      .join(newToks, Seq("source"), "left")
      .select(col("source"), col("n_types"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("new_share_u",
        expr("n_new_types * 1000000 div n_types"))
  }

  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val st = Dedup.fanOut(docs).select(col("source"),
        explode(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .as("tok"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    st.as("x").join(st.as("y"),
        col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_x"), col("y.source").as("source_y"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_x"),
        col("sz").as("sz_x"))), Seq("source_x"))
      .join(broadcast(sizes.select(col("source").as("source_y"),
        col("sz").as("sz_y"))), Seq("source_y"))
      .select(col("source_x"), col("source_y"), col("n_shared"),
        col("sz_x"), col("sz_y"),
        expr("n_shared * 1000000 div (sz_x + sz_y - n_shared)").as("jaccard_u"),
        expr("n_shared * 1000000 div least(sz_x, sz_y)").as("containment_u"))
  }
}
