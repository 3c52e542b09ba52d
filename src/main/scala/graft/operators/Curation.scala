package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a production training-data pipeline runs
  * between raw ingest and tokenization: benchmark decontamination,
  * PII redaction, and repetition (boilerplate) gating. All three are
  * scan-shaped — per-document expressions plus at most one doc-keyed
  * aggregation — so they run at input speed at 100 TB; the only
  * cross-document state (the benchmark n-gram set) is broadcast.
  *
  * Reference scope note: the reference engine (aggregation_example.sql)
  * has no text surface; these extend SURVEY §2.10 alongside Dedup /
  * TextOps for the BASELINE.json north-star pipeline.
  */
object Curation {

  /** Lowercase word tokens ([a-z0-9]+ runs) — the shared tokenizer of
    * TextOps.tokenCount / p11, declared once so every curation op
    * splits text identically.
    */
  def tokens(textCol: Column): Column =
    regexp_extract_all(lower(textCol), lit("[a-z0-9]+"), lit(0))

  /** All word n-grams of a token array, space-joined, in document
    * order (NOT distinct — repetition stats need multiplicity).
    * Guarded: Spark's sequence(1, k) runs DESCENDING for k < 1, so an
    * under-length document must short-circuit to an empty array.
    */
  def wordGrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Benchmark decontamination: flag every train document that shares
    * at least one word `n`-gram with the benchmark slice (`isBench`
    * selects held-out eval docs). Output = one row per TRAIN doc:
    * (doc_id, n_hits, contaminated); the downstream strip is
    * `where(!contaminated)`.
    *
    * Scale shape: eval suites are small (MBs) by construction, so the
    * distinct benchmark gram set is broadcast — the train side is a
    * scan + broadcast-hash-semi-join + one doc-keyed aggregation; no
    * shuffle grows with corpus size except the final agg, which is
    * bounded by contaminated-doc count.
    */
  def decontaminate(docs: DataFrame, isBench: Column, n: Int = 4): DataFrame = {
    val grams = docs
      .select(col("doc_id"), isBench.as("is_bench"),
        explode(array_distinct(wordGrams(tokens(col("text")), n))).as("g"))
    val bench = grams.where(col("is_bench")).select("g").distinct()
    // per-doc grams are distinct, bench is distinct → count(*) after the
    // join IS the number of distinct overlapping grams (no countDistinct
    // re-shuffle needed).
    val hits = grams.where(!col("is_bench"))
      .join(broadcast(bench), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    docs.where(!isBench).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Paragraph-level decontamination — the span-REMOVAL refinement of
    * [[decontaminate]]: real pipelines don't drop a whole document for
    * one leaked benchmark passage, they cut the passage. Documents are
    * split into non-overlapping `paraTokens`-token paragraphs (the
    * fixed-window convention of p12's chunker; the synthetic corpus
    * has no newline structure), each paragraph is judged independently
    * against the benchmark `n`-gram set, and the output carries the
    * span arithmetic per TRAIN doc:
    * (doc_id, n_paras, n_dirty_paras, kept_tokens, scrubbed_text) —
    * scrubbed_text is the clean paragraphs rejoined in order, "" when
    * everything was contaminated.
    *
    * Scale shape: identical to [[decontaminate]] — the bench gram set
    * broadcasts, paragraphs explode scan-side, one (doc, para) hit
    * aggregate bounded by contaminated-span count, one doc-keyed
    * rollup. The rejoin is a per-group `array_sort(collect_list(...))`
    * over that doc's OWN paragraphs (bounded by doc length, never by
    * corpus size), so no operator state grows with the corpus.
    */
  def decontaminateSpans(docs: DataFrame, isBench: Column, n: Int = 4,
      paraTokens: Int = 32): DataFrame = {
    val bench = benchGramSet(docs.where(isBench), n)
    // one paragraph row per `paraTokens`-token window; a token-less doc
    // still yields one (empty) paragraph, same as p12's chunker
    val paras = docs.where(!isBench)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, greatest(size(t) - 1, 0), $paraTokens)," +
          s" st -> slice(t, st + 1, $paraTokens))")))
      .select(col("doc_id"), col("pos").cast("long").as("para_idx"),
        col("col").as("ptoks"))
    val hits = paras
      .select(col("doc_id"), col("para_idx"),
        explode(array_distinct(wordGrams(col("ptoks"), n))).as("g"))
      .join(broadcast(bench), Seq("g"))
      .groupBy("doc_id", "para_idx").agg(count(lit(1)).as("n_hits"))
    val judged = paras.join(hits, Seq("doc_id", "para_idx"), "left")
      .select(col("doc_id"), col("para_idx"),
        size(col("ptoks")).cast("long").as("p_tokens"),
        array_join(col("ptoks"), " ").as("ptext"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("dirty"))
    judged.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("dirty"), lit(1L)).otherwise(lit(0L))).as("n_dirty_paras"),
        sum(when(!col("dirty"), col("p_tokens")).otherwise(lit(0L)))
          .as("kept_tokens"),
        // clean paragraphs back in document order: collect_list drops
        // the dirty (null) entries, array_sort orders by para_idx (the
        // struct's first field), transform projects the text back out
        array_join(transform(
          array_sort(collect_list(
            when(!col("dirty"), struct(col("para_idx"), col("ptext"))))),
          x => x.getField("ptext")), " ").as("scrubbed_text"))
  }

  /** Email / phone regexes shared by redaction and its residual check.
    * Kept to the Java∩RE2 regex subset so the DuckDB oracle applies
    * the exact same patterns.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** The scrub expression itself: emails then phones replaced by typed
    * placeholder tags (the d15 audit's `redacted` text).
    */
  def redact(raw: Column): Column =
    regexp_replace(regexp_replace(raw, lit(EmailRe), lit("<EMAIL>")),
      lit(PhoneRe), lit("<PHONE>"))

  /** Distinct word n-grams of a benchmark corpus — the static side of
    * decontamination (d14).
    */
  def benchGramSet(benchDocs: DataFrame, n: Int = 4): DataFrame =
    benchDocs
      .select(explode(array_distinct(wordGrams(tokens(col("text")), n))).as("g"))
      .distinct()

  /** PII redaction over a raw text column: count then scrub emails and
    * phone numbers, and assert the scrub converged (`clean` = no
    * residual match in the redacted text). Pure per-row expression
    * work — zero shuffles, stays inside whole-stage codegen.
    */
  def piiRedact(docs: DataFrame, rawCol: Column): DataFrame = {
    val redacted = redact(rawCol)
    docs.select(
      col("doc_id"),
      regexp_count(rawCol, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(rawCol, lit(PhoneRe)).cast("long").as("n_phones"),
      redacted.as("redacted"),
      (regexp_count(redacted, lit(EmailRe)) === 0 &&
        regexp_count(redacted, lit(PhoneRe)) === 0).as("clean"))
  }

  /** C4/Gopher-style repetition gate: per-document duplicated-bigram /
    * duplicated-trigram mass and top-bigram share, in basis points
    * (floor → integer, engine-portable), plus the keep flag.
    *
    * One explode + one (doc, n, gram) count + one doc-keyed rollup.
    * Both gram sizes ride the SAME explode (gram size is a payload
    * column), so the corpus is scanned once. Shuffle volume is
    * bounded by per-doc distinct grams — the same scalable trade as
    * p11's explode+groupBy (vs an O(len²) per-row HOF).
    */
  def repetitionStats(docs: DataFrame,
      dup2Max: Long = 1000, dup3Max: Long = 500): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val grams = toks.select(col("doc_id"), explode(concat(
      transform(wordGrams(col("t"), 2), g => struct(lit(2).as("n"), g.as("g"))),
      transform(wordGrams(col("t"), 3), g => struct(lit(3).as("n"), g.as("g")))
    )).as("ng")).select(col("doc_id"), col("ng.n").as("n"), col("ng.g").as("g"))
    val cnt = grams.groupBy("doc_id", "n", "g").agg(count(lit(1)).as("cnt"))
    // conditional aggregates (the DSL's FILTER clause): one rollup pass
    // produces both gram sizes' stats.
    def onN(n: Int, c: Column): Column = when(col("n") === n, c)
    // guarded against an empty gram class: a doc with exactly 2 tokens
    // has bigram rows (so it reaches this rollup) but NO trigrams —
    // 0.0/0 is NaN→null on Spark while DECIMAL engines raise or differ;
    // both sides pin the empty class to 0 bp instead (mirrored CASE in
    // the p17 oracle SQL)
    def bp(x: Column, tot: Column): Column =
      when(tot > 0, floor(lit(10000.0) * x / tot).cast("long"))
        .otherwise(lit(0L))
    def dupMass(n: Int): Column =
      sum(when(col("n") === n && col("cnt") >= 2, col("cnt")).otherwise(lit(0)))
    def total(n: Int): Column = sum(onN(n, col("cnt")).otherwise(lit(0)))
    cnt.groupBy("doc_id")
      .agg(
        bp(dupMass(2), total(2)).as("dup2_bp"),
        bp(max(onN(2, col("cnt"))), total(2)).as("top2_bp"),
        bp(dupMass(3), total(3)).as("dup3_bp"))
      .withColumn("keep", col("dup2_bp") < dup2Max && col("dup3_bp") < dup3Max)
  }
}
