package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sig.Signatures

/** Text-analysis operators for large-scale training-data pipelines:
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting. All pure Catalyst expressions (codegen'd, SQL-mirrorable
  * for the DuckDB oracle).
  */
object TextAnalysis {

  /** Stopword marker sets per language (tiny n-gram-free heuristic — the
    * point is the operator shape: filter/size/ratio arithmetic over token
    * arrays, exactly mirrorable in SQL).
    */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"))

  def tokensCol(c: Column): Column = split(Signatures.normalizeCol(c), " ")

  /** Per-language marker ratio + argmax language (tie: lexicographically
    * first among maxima; below minRatio => "und" undetermined).
    */
  def langId(docs: DataFrame, textCol: String, minRatio: Double = 0.03): DataFrame = {
    val toks = tokensCol(col(textCol))
    val base = docs.withColumn("_toks", toks)
      .withColumn("n_tokens", size(col("_toks")))
    val withRatios = markers.foldLeft(base) { case (df, (lang, ms)) =>
      df.withColumn(s"r_$lang",
        size(filter(col("_toks"), t => t.isin(ms: _*))).cast("double") /
          greatest(col("n_tokens"), lit(1)))
    }
    val best = markers.map { case (l, _) => struct(col(s"r_$l").as("r"), lit(l).as("l")) }
      .reduce((a, b) => when(b.getField("r") > a.getField("r"), b).otherwise(a))
    withRatios
      .withColumn("lang_pred", when(best.getField("r") >= minRatio, best.getField("l"))
        .otherwise(lit("und")))
      .select((Seq(col("doc_id"), col("n_tokens")) ++
        markers.map { case (l, _) => col(s"r_$l") } :+ col("lang_pred")): _*)
  }

  /** Quality scoring: length/punctuation/stopword/repetition signals with a
    * [0,1] composite — the standard pre-training filter shape.
    */
  def quality(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokensCol(t)
    val stop = markers.flatMap(_._2)
    docs.select(
      col("doc_id"),
      length(t).as("n_chars"),
      size(toks).as("n_tokens"),
      (length(t) - length(regexp_replace(t, "[^a-z0-9 ]", ""))).as("n_punct"),
      size(filter(toks, x => x.isin(stop: _*))).as("n_stop"),
      size(array_distinct(toks)).as("n_distinct"))
      .withColumn("punct_ratio", col("n_punct").cast("double") / greatest(col("n_chars"), lit(1)))
      .withColumn("stop_ratio", col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1)))
      .withColumn("distinct_ratio", col("n_distinct").cast("double") / greatest(col("n_tokens"), lit(1)))
      .withColumn("mean_token_len",
        (col("n_chars") - col("n_tokens") + 1).cast("double") / greatest(col("n_tokens"), lit(1)))
      .withColumn("quality_ok",
        col("n_tokens") >= 5 && col("punct_ratio") < 0.3 && col("distinct_ratio") > 0.2)
  }

  /** Repetition signals (the Gopher-rules shape: Rae et al. 2021, §A1.1 —
    * fraction of duplicated tokens/n-grams and the coverage of the single
    * most frequent one). Works on token MULTIPLICITIES, so this builds
    * non-distinct n-gram lists (unlike [[Signatures.wordNgramsCol]]).
    * Pure per-row expressions — O(d·n) in document length via the
    * distinct×filter count, no shuffle, fully SQL-mirrorable.
    */
  def repetition(docs: DataFrame, textCol: String): DataFrame = {
    val toks = tokensColNonEmpty(col(textCol))
    def topFrac(arr: Column, n: Column): Column =
      coalesce(
        array_max(transform(array_distinct(arr), g => size(filter(arr, x => x === g))))
          .cast("double") / greatest(n, lit(1)),
        lit(0.0))
    val grams = when(size(col("_toks")) >= 2,
      transform(sequence(lit(1), size(col("_toks")) - 1),
        i => concat_ws(" ", slice(col("_toks"), i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), toks.as("_toks"))
      .withColumn("n_tokens", size(col("_toks")))
      .withColumn("_grams", grams)
      .withColumn("n_2grams", size(col("_grams")))
      .select(
        col("doc_id"), col("n_tokens"), col("n_2grams"),
        ((col("n_tokens") - size(array_distinct(col("_toks")))).cast("double") /
          greatest(col("n_tokens"), lit(1))).as("dup_tok_frac"),
        topFrac(col("_toks"), col("n_tokens")).as("top_tok_frac"),
        ((col("n_2grams") - size(array_distinct(col("_grams")))).cast("double") /
          greatest(col("n_2grams"), lit(1))).as("dup_2gram_frac"),
        topFrac(col("_grams"), col("n_2grams")).as("top_2gram_frac"))
      .withColumn("repetition_ok",
        col("top_tok_frac") <= 0.2 && col("top_2gram_frac") <= 0.1)
  }

  /** Tokens of the normalized string; empty text yields an empty array
    * (split would yield [""]).
    */
  private def tokensColNonEmpty(c: Column): Column = {
    val n = Signatures.normalizeCol(c)
    when(length(n) === 0, array().cast("array<string>")).otherwise(split(n, " "))
  }

  /** Corpus-level top-k vocabulary per stratum (language): wordcount with
    * map-side combine, then a LOSSLESS two-phase top-k. A single
    * `row_number() OVER (PARTITION BY lang)` would funnel each language's
    * entire vocabulary — millions of rows at corpus scale — through one
    * task. Instead: (1) rank within (stratum, physical partition) and keep
    * k — every global top-k row survives, because ranks are computed on
    * FINAL counts (the aggregate upstream already merged duplicates), so a
    * row beaten by k rows inside its own partition is beaten by k rows
    * globally; (2) re-rank the ≤ k·numPartitions survivors in the small
    * final window. Ties break on the token string, so the result is
    * deterministic and hash-exact against the oracle's plain top-k.
    */
  def topTokens(
      docs: DataFrame,
      textCol: String,
      stratum: String = "lang",
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col(stratum), explode(tokensColNonEmpty(col(textCol))).as("token"))
      .groupBy(col(stratum), col("token"))
      .agg(count(lit(1)).as("n"))
    val order: Seq[Column] = Seq(col("n").desc, col("token"))
    val perPart = Window
      .partitionBy(col(stratum), col("_pid"))
      .orderBy(order: _*)
    val global = Window.partitionBy(col(stratum)).orderBy(order: _*)
    counts
      .withColumn("_pid", spark_partition_id())
      .withColumn("_r", row_number().over(perPart))
      .filter(col("_r") <= k)
      .drop("_pid", "_r")
      .withColumn("rnk", row_number().over(global))
      .filter(col("rnk") <= k)
  }

  /** Out-of-vocabulary scoring (the CCNet-style build-dictionary-then-score
    * shape): phase 1 builds the per-stratum top-`vocabK` vocabulary from the
    * corpus itself; phase 2 scores every document by the fraction of its
    * token OCCURRENCES outside that vocabulary. High OOV = junk, boilerplate
    * or wrong-language text — a standard pre-training quality signal.
    *
    * Scale shape: the vocabulary is k·|strata| rows — broadcast — so the
    * scoring pass is a map-side join over the exploded tokens; explode
    * preserves partitioning, so the per-doc re-aggregation partial-combines
    * each document to one row before its single shuffle. Counts are
    * integers and the fraction one division, so the oracle is hash-exact.
    */
  def oovScore(
      docs: DataFrame,
      textCol: String,
      stratum: String = "lang",
      vocabK: Int = 20): DataFrame = {
    val vocab = topTokens(docs, textCol, stratum, vocabK)
      .select(col(stratum), col("token"), lit(1).as("_inv"))
    docs
      .select(col("doc_id"), col(stratum),
        explode(tokensColNonEmpty(col(textCol))).as("token"))
      .join(broadcast(vocab), Seq(stratum, "token"), "left")
      .groupBy(col("doc_id"), col(stratum))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  /** Benchmark decontamination (the Lee/Brown-style eval-overlap pass):
    * flag every training document sharing any word `n`-gram with the eval
    * set. Grams are keyed by hash60 — at corpus scale the join key is 8
    * bytes instead of a 5-word string, and the SQL oracle hashes
    * identically, so even the 2^-60 collision behavior is mirrored.
    *
    * Scale shape: eval sets are small (benchmark suites), so the distinct
    * eval-gram set broadcasts and the training side never shuffles its
    * grams — explode preserves partitioning and the per-doc counts
    * partial-combine map-side before the one n_docs-row shuffle.
    * `n_grams`/`n_contaminated` count DISTINCT grams per document.
    */
  def decontaminate(
      docs: DataFrame,
      textCol: String,
      evalPred: Column,
      n: Int = 5): DataFrame =
    decontaminateNorm(
      docs.select(col("doc_id"),
        Signatures.normalizeCol(col(textCol)).as("_norm")),
      "_norm", evalPred, n)

  /** [[decontaminate]] over pre-normalized text — catalog callers ride the
    * shared memoized normalization stage instead of re-running it.
    */
  def decontaminateNorm(
      norm: DataFrame,
      normCol: String,
      evalPred: Column,
      n: Int = 5): DataFrame = {
    val grams = norm
      .select(col("doc_id"), evalPred.as("_eval"),
        explode(Signatures.wordNgramsCol(col(normCol), n)).as("gram"))
      .select(col("doc_id"), col("_eval"), Signatures.hash60Col(col("gram")).as("g"))
    val evalGrams = grams.where(col("_eval"))
      .select(col("g")).distinct().withColumn("_hit", lit(1))
    grams.where(!col("_eval"))
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("_hit").isNull, 0L).otherwise(1L)).as("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") > 0)
  }

  /** Cross-document duplicated-span detection (the distributed reshaping of
    * Lee et al. 2022's suffix-array pass, arXiv:2107.06499): a word n-gram
    * is a duplicated span iff it occurs in >= 2 distinct documents; each
    * document reports how much of it is made of such spans. Corpora keep
    * documents whose `dup_frac` is low and trim/drop the rest.
    *
    * Scale shape: grams are per-doc DISTINCT (map-side `array_distinct`
    * inside the codegen'd n-gram expression) and keyed by hash60 — the
    * document-frequency groupBy and the gram->df join both move 8-byte
    * keys, never 5-word strings. Two exchanges on `g` total (the df agg and
    * the join probe; AQE reuses the agg's partitioning for the join side),
    * then one partial-combined per-doc rollup. No driver collect, no
    * broadcast of corpus-sized state — df is computed and joined in place,
    * which is the only shape that survives when the "dictionary" of
    * duplicated grams is itself corpus-sized (unlike ta_oov's broadcast
    * vocab, which is top-k-bounded).
    */
  def dupSpans(docs: DataFrame, textCol: String, n: Int = 5): DataFrame =
    dupSpansFromGrams(docs
      .select(col("doc_id"),
        explode(Signatures.wordNgramsCol(Signatures.normalizeCol(col(textCol)), n))
          .as("gram"))
      .select(col("doc_id"), Signatures.hash60Col(col("gram")).as("g")))

  /** Tail of [[dupSpans]] over a prepared (doc_id, g) gram frame — lets
    * callers memoize/persist the gram stage, which feeds both the df
    * aggregate and the join probe.
    */
  def dupSpansFromGrams(grams: DataFrame): DataFrame = {
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(df, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_grams"))
  }

  /** PII detection patterns, shared verbatim with the DuckDB oracle (both
    * engines run them: Java regex here, RE2 there — the ta_pii hash gate IS
    * the cross-engine parity proof). Character classes and bounded
    * quantifiers only: no backreferences, no lookaround (RE2 has neither),
    * no `\d`-style shorthands (Unicode semantics differ across engines).
    */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,6}"
  val phoneRe = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}"
  val ipRe = "(?:[0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII scan + redaction: per-document counts of email/phone/IPv4 matches
    * and the text with each class replaced by a typed placeholder. A
    * training corpus must drop or redact PII before anything else sees it,
    * so this is a front-of-pipeline, row-local map — codegen'd regex
    * expressions, zero exchanges at any scale, composable with scan
    * pruning. Redaction replaces emails, then phones, then IPs (order is
    * part of the contract — the classes cannot overlap by construction of
    * the patterns, but the oracle mirrors the order anyway).
    */
  def piiScan(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipRe, "<IP>")
    docs.select(
      col("doc_id"),
      regexp_count(t, lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(t, lit(phoneRe)).cast("long").as("n_phones"),
      regexp_count(t, lit(ipRe)).cast("long").as("n_ips"),
      redacted.as("redacted"))
      .withColumn("has_pii",
        col("n_emails") + col("n_phones") + col("n_ips") > 0)
  }

  /** Global duplicate-paragraph removal — the C4/CCNet line-dedup pass
    * (Raffel et al. 2020 §2.2 "we discarded all but one of any three-sentence
    * span occurring more than once"; Wenzek et al. 2020 §4.1 per-paragraph
    * hash dedup), re-expressed over fixed-width word windows because the
    * testdata documents carry no newline structure: the corpus keeps only
    * the FIRST occurrence (lowest (doc_id, position)) of every distinct
    * `w`-word paragraph, and each document reports how much of it survives
    * plus the fingerprint of its cleaned (reassembled, in-order) text.
    *
    * Scale shape: the arbitration plane never moves paragraph TEXT — chunks
    * are keyed by hash60, so the first-occurrence argmin groupBy and the
    * keep-decision join shuffle (8-byte key, doc_id, idx) rows only, and
    * AQE reuses the agg's partitioning for the join probe. Document text
    * moves exactly once (the final doc_id join that reassembles kept text
    * from the original token array); the duplicate-paragraph "dictionary"
    * is corpus-sized, so like [[dupSpans]] it is computed and joined in
    * place rather than broadcast.
    */
  def paragraphDedup(docs: DataFrame, textCol: String, w: Int = 5): DataFrame = {
    require(w >= 1, s"paragraph width must be >= 1, got $w")
    def chunkAt(ws: Column, i: Column): Column =
      array_join(slice(ws, i * w + 1, lit(w)), " ")
    val base = docs.select(col("doc_id"), tokensColNonEmpty(col(textCol)).as("_ws"))
      .where(size(col("_ws")) > 0)
    // slim chunk plane: (doc_id, idx, g) — hash only, text never leaves the row
    val chunks = base.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), ((size(col("_ws")) - 1) / w).cast("int")),
        i => Signatures.hash60Col(chunkAt(col("_ws"), i)))).as(Seq("idx", "g")))
    val first = chunks.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    val perDoc = chunks.join(first, Seq("g"))
      .withColumn("_keep",
        col("doc_id") === col("f.doc_id") && col("idx") === col("f.idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(when(col("_keep"), col("idx")))).as("_ki"))
    base.join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_paras")).as("kept_frac"),
        Signatures.hash60Col(array_join(
          transform(col("_ki"), i => chunkAt(col("_ws"), i)), " ")).as("kept_hash"))
  }

  /** Content-defined-chunking dedup — the storage-side dedup below the
    * semantic layer: chunk each (pre-normalized) document at positional
    * rolling-hash boundaries (native [[graft.functions.SigExprs.cdcChunks]] kernel;
    * boundaries survive edits elsewhere in the doc, unlike fixed-width
    * chunking), keep the globally-first instance of each chunk, report
    * per-doc chunk/kept counts and total/saved bytes.
    *
    * Scale shape mirrors [[paragraphDedup]]: the dedup plane carries
    * (hash, doc_id, idx, len) only — chunk TEXT never shuffles; the
    * first-occurrence election is an argmin AGGREGATE per chunk hash
    * (never a window), so a pathologically common chunk costs one
    * combiner cell, not one task.
    */
  def cdcDedup(norm: DataFrame, normCol: String, k: Int, mod: Int): DataFrame = {
    val chunks = norm
      .where(length(col(normCol)) > 0)
      .select(col("doc_id"),
        posexplode(graft.functions.SigExprs.cdcChunks(col(normCol), k, mod)))
      .select(col("doc_id"), col("pos").as("idx"),
        Signatures.hash60Col(col("col")).as("h"),
        length(col("col")).cast("long").as("len"))
    val firsts = chunks.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    chunks.join(firsts, Seq("h"))
      .withColumn("_kept",
        col("f.doc_id") === col("doc_id") && col("f.idx") === col("idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("len")).as("bytes_total"),
        sum(when(col("_kept"), 0L).otherwise(col("len"))).as("bytes_saved"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD
    * 2003 — the MOSS local fingerprinting scheme): hash every char k-gram
    * of the normalized text, select the minimum key in each window of `w`
    * consecutive positions (native codegen [[graft.functions.SigExprs.winnowKeys]]
    * kernel; earliest-position tie rule packed into the key's low bits so
    * a SQL oracle replays the selection with pure integer arithmetic).
    * Emits per doc: gram count, distinct selected-fingerprint count, and a
    * hash60 digest of the sorted selected keys. The paper's guarantee —
    * any shared substring of length ≥ w + k - 1 shares a fingerprint, at
    * expected density 2/(w+1) — is what makes this the INDEXABLE near-dup
    * key family: unlike [[fingerprint]]'s single global min-shingle, the
    * selected set localizes matches, so a 100 TB index on (key → doc)
    * finds partial overlaps with ~2/(w+1) of the k-gram index's rows.
    *
    * Scale shape: a pure row map — zero exchanges; the fingerprint set
    * never leaves the row here (the index materialization is an explode
    * away, and inherits the same cap discipline as the shingle indexes).
    */
  def winnow(norm: DataFrame, normCol: String, k: Int, w: Int): DataFrame = {
    val len = length(col(normCol))
    norm.where(len > 0).select(
      col("doc_id"),
      // capped at 2^20 like the kernel's fingerprinted-gram bound (the key
      // layout's 20-bit position field; see SigKernels.winnowKeys)
      when(len < k, 1L).otherwise(least((len - (k - 1)).cast("long"), lit(1048576L)))
        .as("n_grams"),
      graft.functions.SigExprs.winnowKeys(col(normCol), k, w).as("_keys"))
      .select(col("doc_id"), col("n_grams"),
        size(col("_keys")).cast("long").as("n_fp"),
        // joinLongsCsv not array_join(transform(...)): the HOF would run
        // interpreted and split the whole-stage-codegen span
        Signatures.hash60Col(
          graft.functions.SigExprs.joinLongsCsv(col("_keys"))).as("fp_hash"))
  }

  /** Corpus-derived bigram "language model" quality score — the KenLM-style
    * score-against-the-corpus filter (CCNet, Wenzek et al. 2020 §4.3)
    * reduced to count arithmetic so the gate stays hash-exact: phase 1
    * counts every word bigram in the corpus and keeps the global top-`k`;
    * phase 2 scores each document by how much of it is made of those
    * high-frequency bigrams (`mean_freq` = average corpus count of the
    * document's bigrams, unknown = 0). Low scores mark unnatural token
    * sequences (boilerplate, shuffled text, wrong language) exactly where a
    * perplexity filter would — without IEEE log-sum ordering hazards.
    *
    * Scale shape: the model is k rows — broadcast — so scoring is a
    * map-side join over the exploded bigrams with one per-doc rollup
    * (partial-combined). The top-k plans as TakeOrderedAndProject
    * (per-partition top-k, merged on the driver), never a global sort.
    */
  def ngramLmScore(docs: DataFrame, textCol: String, k: Int = 64): DataFrame = {
    val dg = docBigrams(docs, textCol)
    ngramLmScoreFromGrams(dg, lmTopK(dg, k))
  }

  /** Non-distinct word-bigram stream (doc_id, gram) — the shared feature
    * stage of [[ngramLmScore]]; callers memoize it (it feeds both the
    * count aggregate and the scoring probe).
    */
  def docBigrams(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), tokensColNonEmpty(col(textCol)).as("_toks"))
      .select(col("doc_id"), explode(when(size(col("_toks")) >= 2,
        transform(sequence(lit(1), size(col("_toks")) - 1),
          i => concat_ws(" ", slice(col("_toks"), i, lit(2)))))
        .otherwise(array().cast("array<string>"))).as("gram"))

  /** Global top-`k` bigrams by corpus count (ties on the gram string). */
  def lmTopK(grams: DataFrame, k: Int): DataFrame =
    grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(k)

  /** Tail of [[ngramLmScore]] over prepared gram and model frames. */
  def ngramLmScoreFromGrams(grams: DataFrame, model: DataFrame): DataFrame =
    grams.join(broadcast(model.select(col("gram"), col("n").as("_cn"))),
        Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("_cn").isNull, 0L).otherwise(1L)).as("n_known"),
        sum(coalesce(col("_cn"), lit(0L))).as("freq_sum"))
      .withColumn("mean_freq", col("freq_sum").cast("double") / col("n_bigrams"))

  /** Document fingerprints: full-content hash60 of the normalized text plus
    * a winnowing-style min-shingle fingerprint (min over k-gram hash60s) —
    * containment-robust near-exact dedup keys.
    */
  def fingerprint(docs: DataFrame, textCol: String, k: Int = 8): DataFrame = {
    val norm = Signatures.normalizeCol(col(textCol))
    docs.select(col("doc_id"), norm.as("_n"))
      // null text has no content to fingerprint (empty text does: hash60
      // of "" is a legitimate exact-dup key for empty-content rows)
      .where(col("_n").isNotNull)
      .withColumn("fp_exact", Signatures.hash60Col(col("_n")))
      .withColumn("fp_minshingle",
        array_min(transform(Signatures.shinglesCol(col("_n"), k),
          s => Signatures.hash60Col(s))))
      .select(col("doc_id"), col("fp_exact"), col("fp_minshingle"))
  }
}
