package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Corpus-governance operators for training-data pipelines: repetition
  * detection (Gopher-style quality signals), benchmark-contamination
  * measurement via word n-gram overlap, and deterministic hash-based
  * dataset splits.
  *
  * Scale design: everything is linear in corpus tokens and shuffles
  * only on document-id keys with full partial aggregation; the one join
  * against external data (the benchmark n-gram set) broadcasts, because
  * eval suites are megabytes while the corpus is terabytes.
  */
object CorpusOps {

  /** Word-level repetition signals per document — the quality filters
    * the Gopher/MassiveText pipeline applies before training:
    * `distinct_ratio` (distinct tokens / tokens; low = repetitive),
    * `top_unigram_frac` and `top_bigram_frac` (share of the most
    * frequent unigram/bigram; high = degenerate loops). The scalar
    * ratios come straight from per-row array ops (no shuffle); only the
    * two top-gram modes need an explode → count → max, each fully
    * partial-aggregated on (id, gram) then id.
    */
  def repetitionStats(docs: DataFrame, id: String, text: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = docs.select(col(id), TextOps.tokens(col(text)).as("toks"))
    val scalars = base.select(
      col(id),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    // explode over the INLINE tokens call, not the `toks` attribute:
    // InferFiltersFromGenerate infers `size(e) > 0` pre-filters only
    // for attribute generators, and pushing that filter below the
    // fanout repartition re-evaluates the regex split per row in the
    // single-partition scan task (measured ~2 s single-threaded at
    // sf0.1) — for a filter that drops nothing (every doc tokenizes)
    val topUni = docs
      .select(col(id), explode(TextOps.tokens(col(text))).as("tok"))
      .groupBy(col(id), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(id)).agg(max(col("c")).as("top_uni"))
    val topBi = base
      .select(col(id), explode(TextOps.wordNgrams(col("toks"), 2)).as("g"))
      .groupBy(col(id), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(id)).agg(max(col("c")).as("top_bi"))
    scalars
      .join(topUni, Seq(id), "left")
      .join(topBi, Seq(id), "left")
      .select(
        col(id),
        col("n_tokens"),
        round(col("n_distinct").cast("double") / col("n_tokens").cast("double"), 4)
          .as("distinct_ratio"),
        round(coalesce(col("top_uni"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 4).as("top_unigram_frac"),
        // single-token docs have no bigrams: NULL, not 0/0
        round(coalesce(col("top_bi"), lit(0L)).cast("double") /
          nullif(col("n_tokens") - lit(1L), lit(0L)).cast("double"), 4)
          .as("top_bigram_frac"))
  }

  /** Benchmark contamination: for each corpus document, the fraction of
    * its word `n`-grams that appear anywhere in `bench` (the held-out
    * eval suite). The benchmark's distinct gram set is BROADCAST — eval
    * suites are small by construction, so the corpus-side scan never
    * shuffles its grams; counting hits is a map-side broadcast probe
    * plus one partial-aggregated groupBy on the doc id. Documents with
    * fewer than `n` tokens have no grams and are absent from the
    * output.
    */
  def ngramContamination(corpus: DataFrame, bench: DataFrame,
                         id: String, text: String, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def grams(d: DataFrame): DataFrame = d.select(
      col(id),
      explode(TextOps.wordNgrams(TextOps.tokens(col(text)), n)).as("g"))
    val benchGrams = grams(bench).select(col("g")).distinct()
      .withColumn("__hit", lit(1))
    grams(corpus)
      .join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_contaminated"))
      .select(
        col(id), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams").cast("double"), 4)
          .as("contamination_frac"))
  }

  /** Corpus-wide frequent n-gram mining — the boilerplate-phrase
    * detector: the `k` word n-grams with the most total occurrences,
    * each with its document frequency. The output FEEDS the cleaning
    * ops above (a mined top list becomes the drop set for boilerplate
    * stripping, or the shingle blacklist that keeps LSH buckets from
    * going quadratic on template text).
    *
    * Scale shape: one explode (linear in corpus tokens) → one hash
    * groupBy on the gram with map-side partial counts → the global
    * top-k is orderBy+limit, which Spark plans as TakeOrderedAndProject
    * — a per-partition heap of k rows merged on the driver
    * (partitions × k rows), never a full sort shuffle of the distinct
    * gram table. Ties rank deterministically (count desc, gram asc).
    */
  def frequentNgrams(docs: DataFrame, id: String, text: String,
                     n: Int, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col(id),
      explode(TextOps.wordNgrams(TextOps.tokens(col(text)), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col(id)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(k)
  }

  /** Inverted index over the corpus: one row per term with its
    * document frequency and a CAPPED ascending posting list — the
    * `maxPostings` smallest ids per term. The cap is enforced BEFORE
    * the fold: (term, id) pairs are ranked by a streaming
    * `row_number()` window and only in-cap ids enter `collect_set`, so
    * a stopword's aggregation buffer holds at most `maxPostings` ids —
    * at 100 TB the old post-agg `slice` would have buffered the whole
    * corpus in one term's agg state. `df` still counts every pair. One
    * explode of per-row DISTINCT tokens (no corpus-wide distinct), one
    * shuffle on the term shared by the window and the groupBy (Catalyst
    * reuses the exchange — the window's sort-by-id state is streaming,
    * never a full posting list).
    */
  def invertedIndex(docs: DataFrame, id: String, text: String,
                    maxPostings: Int): DataFrame = {
    val byTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col(id))
    docs.select(col(id),
      explode(array_distinct(TextOps.tokens(col(text)))).as("term"))
      .withColumn("__rk", row_number().over(byTerm))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sort_array(collect_set(when(col("__rk") <= maxPostings, col(id))))
          .as("postings"))
  }

  /** Sliding-window document chunking — the tokenization-prep step
    * that turns long documents into training samples: chunks of `size`
    * tokens starting every `size - overlap` tokens, so consecutive
    * chunks share `overlap` tokens and every token is covered; the
    * final chunk may run short. Pure per-row array ops (sequence →
    * explode → slice): no shuffle, fully codegen'd, linear in corpus
    * tokens — chunk_id derives arithmetically from the start offset so
    * no ordering primitive is needed.
    */
  def chunk(docs: DataFrame, id: String, text: String,
            size: Int, overlap: Int): DataFrame = {
    require(size > overlap && overlap >= 0,
      s"need size > overlap >= 0, got size=$size overlap=$overlap")
    val stride = size - overlap
    docs.select(col(id), TextOps.tokens(col(text)).as("toks"))
      .select(col(id), col("toks"),
        explode(sequence(lit(1),
          greatest(org.apache.spark.sql.functions.size(col("toks")) - lit(overlap), lit(1)),
          lit(stride))).as("s"))
      .select(
        col(id),
        ((col("s") - 1) / stride).cast("long").as("chunk_id"),
        least(lit(size),
          org.apache.spark.sql.functions.size(col("toks")) - col("s") + 1)
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"), col("s"), lit(size))).as("chunk_text"))
  }

  /** Deterministic stratified sample: the `perStratum` smallest rows
    * per stratum in md5-of-id order — a pseudo-random but perfectly
    * reproducible pick (same rows on any run, machine, or partition
    * layout; `df.sample()` is none of those). One shuffle on the
    * stratum key; rank-k selection per group. Eval-set construction is
    * the use case: the sample must be stable across pipeline reruns or
    * the benchmark silently drifts.
    */
  def stratifiedSample(docs: DataFrame, stratum: String, id: String,
                       perStratum: Int): DataFrame =
    docs
      .withColumn("__rnd", md5(col(id).cast("string")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(stratum)).orderBy(col("__rnd"), col(id))))
      .where(col("__rn") <= perStratum)
      .drop("__rnd", "__rn")

  /** Deterministic train/val/test assignment from a hash of the id —
    * the split must be a pure function of the document (stable across
    * runs, machines, and repartitioning), never `rand()`. Bucket =
    * first 16 md5 bits mod 10 → `train` (<8), `val` (8), `test` (9);
    * 65536 % 10 ≠ 0 makes the skew ~0.01%, irrelevant against exact
    * reproducibility. Pure per-row expressions — no shuffle.
    */
  def deterministicSplit(docs: DataFrame, id: String): DataFrame = {
    val bucket = (conv(substring(md5(col(id).cast("string")), 1, 4), 16, 10)
      .cast("long") % 10).as("bucket")
    docs.withColumn("split",
      when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
  }

  /** Span-level duplication signal (the "deduplicating training data"
    * diagnostic): for every document, how many of its rolling `n`-token
    * spans also occur in at least one OTHER document. Doc-level dedup
    * misses partially-copied text and quote-heavy pages; this measures
    * them. Documents shorter than `n` tokens have no spans and are
    * absent, like [[ngramContamination]].
    *
    * Shape: one explode to rolling spans — each immediately replaced by
    * a 60-bit md5 prefix, so every downstream shuffle carries 8-byte
    * longs instead of ~6·n-byte strings (a collision mislabels one span
    * in ~2⁶⁰, noise against a corpus-level fraction) — then a distinct
    * + count for each span's document frequency (partial-aggregated on
    * the span) and one shuffle join of spans against the df≥2 set. The
    * duplicated-span set is corpus-sized in the worst case, so it does
    * NOT broadcast; this is the standard passage-dedup shuffle and it
    * scales linearly in corpus tokens.
    */
  def duplicatedPassages(docs: DataFrame, id: String, text: String,
                         n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // fused span hashing: word_ngram_hashes emits the 60-bit md5
    // prefixes directly (value-identical to hashing the exploded gram
    // strings) — no gram string, hex string, or conv decimal per span
    val grams = docs.select(col(id),
      explode(graft.functions.GraftFunctions.word_ngram_hashes(
        TextOps.tokens(col(text)), n)).as("g"))
    val dupSpans = grams.select(col(id), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2)
      .select(col("g"), lit(1).as("__dup"))
    grams
      .join(dupSpans, Seq("g"), "left")
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_spans"),
        count(col("__dup")).as("n_dup_spans"))
      .select(col(id), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans").cast("double"), 4)
          .as("dup_frac"))
  }

  /** Span-level duplication REMOVAL — the act to [[duplicatedPassages]]'s
    * diagnostic (the "deduplicating training data makes LMs better"
    * operation): every token covered by a rolling `n`-token span that
    * occurs in at least one OTHER document is excised, in every
    * document carrying it. This is the aggressive form (no canonical
    * copy survives — boilerplate, licenses, and chain-quoted text
    * disappear outright); pair with doc-level dedup first so exact
    * duplicates collapse to one copy before span removal sees them.
    *
    * Output: one row per input document — `text_clean` (kept tokens
    * rejoined with single spaces: the output is a TOKEN STREAM, same
    * whitespace normalization every downstream tokenizer applies
    * anyway), `n_tokens`, `n_removed`. Documents shorter than `n`
    * tokens pass through untouched; a fully-covered document survives
    * as an empty `text_clean` with the removal counted, so the caller
    * decides the drop threshold.
    *
    * Shape: the span/df pass is [[duplicatedPassages]] verbatim
    * (8-byte hashed spans, partial-aggregated df, no broadcast of the
    * corpus-sized dup set); coverage explodes dup spans to their n
    * token indices (bounded by n·dup-spans), kept tokens are one
    * anti-join on (doc, position), and reassembly is one groupBy(doc)
    * of (position, token) pairs — every shuffle linear in corpus
    * tokens, same class as chunking/packing.
    */
  def removeDuplicatedPassages(docs: DataFrame, id: String, text: String,
                               n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val toks = docs.select(col(id), TextOps.tokens(col(text)).as("__t"))
    val spans = toks
      .select(col(id), posexplode(graft.functions.GraftFunctions.word_ngram_hashes(
        col("__t"), n)))
      .select(col(id), col("pos").as("__s"), col("col").as("g"))
    val dupSpans = spans.select(col(id), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2)
      .select(col("g"))
    val covered = spans.join(dupSpans, Seq("g"))
      .select(col(id), explode(sequence(col("__s"), col("__s") + lit(n - 1))).as("__p"))
      .distinct()
    val kept = toks
      .select(col(id), posexplode(col("__t")))
      .select(col(id), col("pos").as("__p"), col("col").as("__tok"))
      .join(covered, Seq(id, "__p"), "left_anti")
    val rebuilt = kept.groupBy(col(id))
      .agg(
        count(lit(1)).as("__n_kept"),
        array_join(array_sort(collect_list(struct(col("__p"), col("__tok"))))
          .getField("__tok"), " ").as("text_clean"))
    docs.select(col(id), size(TextOps.tokens(col(text))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).cast("long").as("n_removed"))
  }

  /** Bigram language-model fluency scoring (the CCNet quality signal):
    * train add-k-smoothed bigram statistics on `train`, then score every
    * document in `docs` by the average negative log-likelihood of its
    * bigrams, -ln((c(w1 w2)+k) / (c(w1)+k·V)). Low avg_nll = fluent,
    * in-distribution text; high = gibberish, boilerplate, or
    * out-of-language — the standard cheap perplexity proxy a pipeline
    * filters on before paying for a neural scorer. Documents with fewer
    * than two tokens have no bigrams and are absent, like
    * [[ngramContamination]].
    *
    * Scale shape: unigram/bigram counts are partial-aggregated shuffles
    * on the gram key; the vocabulary size rides along as a broadcast
    * single row (never a driver collect); scoring is two shuffle joins
    * of corpus grams against the model (model tables are corpus-sized
    * in the worst case, so they do NOT broadcast) and one
    * partial-aggregated fold on the doc id. Everything is linear in
    * corpus tokens. At 100 TB the model is trained once and persisted;
    * this operator recomputes it for self-containment.
    *
    * Determinism: counts are exact integers; the only floating-point is
    * the per-gram ln and the final avg, rounded to 4 decimals — far
    * wider than the ~1e-13 cross-engine summation-order noise.
    */
  def bigramLmScore(docs: DataFrame, train: DataFrame, id: String,
                    text: String, k: Double): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // inline tokens() in the generators — an attribute explode invites
    // InferFiltersFromGenerate's size>0 pre-filter below the fanout
    // repartition, re-running the regex split single-threaded at the
    // scan (see repetitionStats)
    val uni = train.select(explode(TextOps.tokens(col(text))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val big = train
      .select(explode(TextOps.wordNgrams(TextOps.tokens(col(text)), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val vocab = uni.agg(count(lit(1)).as("__v"))
    docs
      .select(col(id),
        explode(TextOps.wordNgrams(TextOps.tokens(col(text)), 2)).as("g"))
      .withColumn("w1", split(col("g"), " ").getItem(0))
      .join(big, Seq("g"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(id),
        (-log((coalesce(col("c2"), lit(0L)).cast("double") + lit(k)) /
          (coalesce(col("c1"), lit(0L)).cast("double") + lit(k) * col("__v"))))
          .as("nll"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll")), 4).as("avg_nll"))
  }

  /** CCNet head/middle/tail tier assignment by APPROXIMATE per-stratum
    * tercile boundaries — the 100 TB shape of the exact-ntile tiers in
    * q74_ppl_tiers. Exact ntile funnels each language through ONE
    * window partition (a sort bottleneck when one language is most of
    * the corpus); here the two boundaries per stratum come from
    * `percentile_approx` — one partial-aggregated pass, ~accuracy
    * doubles of sketch state per stratum, no sort anywhere — and each
    * row's tier is a comparison against its stratum's broadcast
    * boundaries. Agrees with exact ntile away from boundary ties
    * (spec-asserted on separated bands); rows AT an approximated
    * boundary can land one tier off — the documented price, irrelevant
    * to a quality cut that keeps "head" by the million.
    *
    * Output: every input column plus `tier` ('head' = lowest third of
    * `score`, then 'middle', 'tail').
    */
  def pplTiersApprox(scored: DataFrame, stratum: String, score: String,
                     accuracy: Int = 10000): DataFrame = {
    val bounds = scored.groupBy(col(stratum))
      .agg(percentile_approx(col(score),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("__b"))
      .select(col(stratum).as("__bs"),
        col("__b").getItem(0).as("__b1"), col("__b").getItem(1).as("__b2"))
    // null-SAFE join on the stratum: groupBy keeps a null-stratum group
    // (and the exact ntile variant tiers it as its own window
    // partition), so a plain equi-join would silently drop exactly
    // those rows from the output — <=> keeps the two variants
    // row-count-identical on nullable strata
    scored
      .join(broadcast(bounds), col(stratum) <=> col("__bs"))
      .withColumn("tier",
        when(col(score) <= col("__b1"), "head")
          .when(col(score) <= col("__b2"), "middle")
          .otherwise("tail"))
      .drop("__bs", "__b1", "__b2")
  }

  /** Temperature-based stratum rebalancing — the multilingual mixing
    * step (alpha-sampling): each stratum (language) is downsampled at
    * rate (n_min/n_stratum)^(1-alpha), so the smallest stratum keeps
    * everything and head strata shrink toward balance; alpha = 1 keeps
    * the natural distribution, alpha = 0 forces uniform. The keep/drop
    * decision is a pure function of the row id (first 24 md5 bits as a
    * uniform in [0,1)) — stable across runs, machines, and partition
    * layouts, unlike `df.sample`.
    *
    * One partial-aggregated shuffle for stratum counts; the per-stratum
    * rate table is strata-sized (tiny) and broadcasts back; the
    * keep/drop pass is per-row expressions. Output keeps every input
    * column plus the stratum's `keep_rate`.
    */
  def temperatureSample(docs: DataFrame, stratum: String, id: String,
                        alpha: Double): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"need 0 <= alpha <= 1, got $alpha")
    // the corpus-wide min rides a single-partition window over the
    // strata-sized aggregate instead of a crossJoin(agg(counts)) — the
    // latter plans the stratum-count scan TWICE (once under the min,
    // once under the rates); the window costs one exchange of a
    // strata-sized table and the documents scan runs once here
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n_stratum"))
    val whole = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val rates = counts
      .withColumn("__nmin", min(col("n_stratum")).over(whole))
      .select(col(stratum), col("n_stratum"),
        pow(col("__nmin").cast("double") / col("n_stratum").cast("double"),
          1.0 - alpha).as("keep_rate"))
    val u = conv(substring(md5(col(id).cast("string")), 1, 6), 16, 10)
      .cast("long").cast("double") / lit(16777216.0)
    docs
      .join(broadcast(rates), Seq(stratum))
      .where(u < col("keep_rate"))
      .drop("n_stratum")
  }

  /** Materialize an EXPLICIT target mixture over strata — the
    * data-mixing step AFTER the weights are decided (DoReMi/Pile-style
    * "40% web, 20% code, …"), the sibling of [[temperatureSample]]'s
    * formula-driven rebalancing. Downsample-only, so the achievable
    * total is capped by the scarcest stratum relative to its target:
    * T = min over weighted strata of n_s / w_s, and each stratum keeps
    * w_s · T / n_s of its rows. Strata without a weight drop entirely,
    * and a weight a stratum cannot fill caps the WHOLE mixture rather
    * than silently re-normalizing — the mixture produced is the
    * mixture asked for, only smaller. Keep/drop is the md5-uniform of
    * the row id: stable across runs, machines, and partition layouts.
    *
    * One partial-aggregated count shuffle; the strata-sized rate table
    * broadcasts back; the keep pass is per-row expressions. Output
    * keeps every input column plus the stratum's `keep_rate`.
    */
  def mixToWeights(docs: DataFrame, stratum: String, id: String,
                   weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(w => w > 0 && !w.isInfinite && !w.isNaN),
      "mixture weights must be positive and finite")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF(stratum, "__w")
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n_stratum"))
    // inner join: unweighted strata leave the mixture here
    val scaled = counts.join(broadcast(w), Seq(stratum))
      .withColumn("__cap", col("n_stratum").cast("double") / col("__w"))
    // the mixture cap T = min over strata rides a single-partition
    // window over the strata-sized `scaled` instead of a
    // crossJoin(agg(scaled)) — the latter plans the stratum-count scan
    // TWICE (plans/r22/q102_mixture_before.txt: three documents scans);
    // the window costs one exchange of a strata-sized table and the
    // documents scan runs once here
    val whole = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val rates = scaled
      .withColumn("__t", min(col("__cap")).over(whole))
      .select(col(stratum), col("n_stratum"),
        least(lit(1.0),
          col("__w") * col("__t") / col("n_stratum").cast("double")).as("keep_rate"))
    val u = conv(substring(md5(col(id).cast("string")), 1, 6), 16, 10)
      .cast("long").cast("double") / lit(16777216.0)
    docs
      .join(broadcast(rates), Seq(stratum))
      .where(u < col("keep_rate"))
      .drop("n_stratum")
  }

  /** Cut a training mix to PER-STRATUM TOKEN BUDGETS — how production
    * pretraining mixes are actually specified ("50B tokens of web, 5B
    * of code"), where [[mixToWeights]] speaks in row proportions.
    * Within each stratum documents take a deterministic md5-of-id
    * priority order and enter GREEDILY while the running token total
    * stays within the budget; the first document that would overflow is
    * dropped and nothing back-fills behind it (greedy prefix, not
    * knapsack — simple, stable under re-runs, and any engine replays it
    * exactly). Unbudgeted strata leave the mix. Output carries
    * `cum_tokens`, the running total INCLUDING the row.
    *
    * Scale shape: one window per stratum (partitioned running sum — a
    * sort of each stratum's rows, no global sort). The sort is the
    * price of an EXACT budget cut; when an approximate cut is fine at
    * 100 TB, derive a rate from the stratum's token count and use
    * [[mixToWeights]]'s rate filter instead.
    */
  def mixToTokenBudgets(docs: DataFrame, stratum: String, id: String,
                        tokens: Column, budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty && budgets.values.forall(_ > 0),
      "token budgets must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val b = budgets.toSeq.toDF(stratum, "__budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratum))
      .orderBy(md5(col(id).cast("string")), col(id))
    docs
      .join(broadcast(b), Seq(stratum)) // inner: unbudgeted strata leave
      .withColumn("__tok", tokens.cast("long"))
      .withColumn("cum_tokens", sum(col("__tok")).over(w))
      .where(col("cum_tokens") <= col("__budget"))
      .drop("__tok", "__budget")
  }

  /** DSIR-shaped hashed importance statistics: score every document by
    * how much its hashed-unigram mass resembles a TARGET corpus versus
    * the source it sits in (Xie et al.'s data-selection shape: cheap
    * hashed n-gram features standing in for a learned domain model).
    * Features are md5-hashed token buckets; per document,
    * `target_mass` = Σ over its tokens of (targetCount(bucket)+1) and
    * `source_mass` = Σ of (sourceCount(bucket)+1), add-1 smoothed —
    * EXACT integer sums, so selection thresholds and rankings
    * reproduce bit-identically on any engine; `importance` is their
    * ratio (the published log-ratio scoring is a per-row transform of
    * the same bucket counts — the integer pair is the
    * cross-engine-stable core).
    *
    * The two bucket tables are `buckets`-sized and BROADCAST — the
    * per-token join never shuffles the corpus; the one shuffle is the
    * per-document aggregation, partial-combined on doc id. Token
    * explosion is corpus-linear, the same cost class as every other
    * token-level op here.
    */
  def importanceMass(docs: DataFrame, target: DataFrame, id: String,
                     text: String, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    def bucketed(df: DataFrame,
                 keep: Seq[org.apache.spark.sql.Column]): DataFrame =
      df.select(keep :+ explode(TextOps.tokens(col(text))).as("__tok"): _*)
        .withColumn("__b",
          pmod(conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long"),
            lit(buckets.toLong)))
        .drop("__tok")
    val ct = bucketed(target, Seq.empty).groupBy(col("__b"))
      .agg(count(lit(1)).as("__ct"))
    // per-document bucket HISTOGRAM first: (id, bucket) → k. The source
    // bucket totals then derive from the histogram (Σ k per bucket) and
    // the per-document masses from k-weighted sums — so the corpus is
    // tokenized ONCE for both (the two histogram subtrees are
    // canonically identical and share one exchange via ReusedExchange),
    // where the previous shape tokenized it twice (bucket totals pass +
    // scoring pass — three Generate subtrees in
    // plans/r22/q103_importance_before.txt). All integer sums, so
    // masses are bit-identical: Σ_tokens (c(b)+1) = Σ_b k_b·(c(b)+1).
    val srcHist = bucketed(docs, Seq(col(id)))
      .groupBy(col(id), col("__b")).agg(count(lit(1)).as("__k"))
    val cs = srcHist.groupBy(col("__b")).agg(sum(col("__k")).as("__cs"))
    srcHist
      .join(broadcast(ct), Seq("__b"), "left")
      .join(broadcast(cs), Seq("__b")) // own-corpus buckets always present
      .groupBy(col(id))
      .agg(sum(col("__k")).as("n_tokens"),
        sum(col("__k") * (coalesce(col("__ct"), lit(0L)) + lit(1L))).as("target_mass"),
        sum(col("__k") * (col("__cs") + lit(1L))).as("source_mass"))
      .withColumn("importance",
        col("target_mass").cast("double") / col("source_mass").cast("double"))
  }

  /** Compression-ratio quality signal (the Gopher/RefinedWeb
    * repetitiveness proxy): deflate each document and report
    * compressed/raw byte sizes. Highly repetitive or templated text
    * compresses far below natural prose; near-random text barely
    * compresses — both tails are filter candidates. DEFLATE has no SQL
    * mirror, so this is a spec-pinned, rows-only operator (like the
    * media codecs), and for the same reason it runs as
    * `mapPartitions` at the codec boundary: one `Deflater` per
    * partition (native buffers released at task end), reset per
    * document — amortized setup, no shuffle anywhere. Deterministic for a
    * fixed level on a given JDK (and pinned by relative ordering, not
    * absolute sizes, in the spec).
    */
  final case class CompressionSignal(doc_id: Long, n_bytes: Long,
                                     deflate_bytes: Long, ratio: Double)

  def compressionSignals(docs: DataFrame, id: String, text: String,
                         level: Int = 6): Dataset[CompressionSignal] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(id).cast("long"), col(text))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(level)
        // Deflater holds NATIVE zlib buffers — release them when the
        // task ends, not when the GC eventually finalizes
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        rows.map { case (docId, t) =>
          val raw = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          val ratio =
            if (raw.length == 0) 1.0
            else BigDecimal(out.toDouble / raw.length)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          CompressionSignal(docId, raw.length.toLong, out, ratio)
        }
      }
  }

  /** BM25 ranked retrieval (Lucene-shape formula): score every document
    * containing at least one of `terms` by
    * sum_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)), with
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)). The query-side answer
    * to the [[invertedIndex]]: corpus inspection ("find the docs about
    * X") without an external search engine.
    *
    * Scale shape: corpus stats (N, avgdl) are one partial-aggregated
    * row broadcast along; per-term df only for the QUERY terms (the
    * explode is pre-filtered with isin, so the shuffle carries query
    * hits, not the corpus vocabulary); tf is a partial-aggregated
    * groupBy on (doc, term); the df table is |terms| rows and
    * broadcasts. Linear in corpus tokens, no driver collect.
    *
    * Determinism: counts are exact; ln/divisions are fixed expression
    * trees; the per-doc sum spans ≤ |terms| values → rounding to 4
    * decimals absorbs summation-order noise.
    */
  def bm25(docs: DataFrame, id: String, text: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    // a query term counts once however often the query repeats it
    val qterms = terms.distinct
    // Single-pass shape: per-term tf is a PER-ROW array expression
    // (size minus size-after-remove — codegen'd collection ops, no
    // HOF lambda), so the whole per-document state (dl, tf per query
    // term) comes out of ONE projection with no explode, no (doc, term)
    // shuffle, and no distinct; df then falls out of the same global
    // aggregate that computes N/avgdl (df_t = #docs with tf_t > 0),
    // broadcast back as one row. The previous formulation tokenized
    // the corpus FOUR times (lens, stats, tf, df — four scans in
    // plans/r22/q72_bm25_before.txt); this one tokenizes twice (stats
    // pass + scoring pass), the floor without caching, and the only
    // remaining shuffles are the single-row aggregate and the caller's
    // ordering. Per-query-term columns: query term lists are small by
    // construction (same contract as the isin filter this replaces).
    val perDoc = docs
      .select(col(id), TextOps.tokens(col(text)).as("__toks"))
      .select(Seq(col(id), size(col("__toks")).cast("long").as("dl")) ++
        qterms.indices.map(i =>
          (size(col("__toks")) -
            size(array_remove(col("__toks"), lit(qterms(i)))))
            .cast("long").as(s"__tf$i")): _*)
    val statAggs = Seq(
      count(lit(1)).as("__n"), avg(col("dl")).as("__avgdl")) ++
      qterms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val score = qterms.indices.map { i =>
      val tf = col(s"__tf$i")
      val df = col(s"__df$i")
      when(tf > 0,
        log(lit(1.0) + (col("__n") - df + lit(0.5)) / (df + lit(0.5))) *
          (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    perDoc
      .where(qterms.indices.map(i => col(s"__tf$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .select(col(id), round(score, 4).as("bm25"))
  }

  /** Sequence packing — the tokenization-prep step that concatenates
    * documents into fixed-size training bins: documents are laid out
    * in id order and each is assigned to the bin where its first token
    * lands (the concat-then-chunk mapping). Packing is SHARD-LOCAL:
    * documents are grouped into deterministic shards of `shardDocs`
    * consecutive ids and bins never cross shards — the global-cumsum
    * formulation would funnel the corpus through one partition, while
    * shard-local packing is one window per shard, embarrassingly
    * parallel, at the cost of at most one underfull final bin per
    * shard. All-integer arithmetic: bit-exact in any engine.
    */
  def packSequences(docs: DataFrame, id: String, text: String,
                    binTokens: Int, shardDocs: Int): DataFrame = {
    require(binTokens > 0 && shardDocs > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(id))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col(id),
        floor(col(id) / lit(shardDocs)).as("shard"),
        size(TextOps.tokens(col(text))).cast("long").as("n_tokens"))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(id), col("shard"), col("n_tokens"), col("offset"),
        // collision-free by construction at any shard token total
        // (a shard×multiplier encoding overflows or collides once a
        // shard holds more bins than the multiplier)
        concat(col("shard"), lit(":"), floor(col("offset") / lit(binTokens)))
          .as("bin_id"))
  }

  /** One row per line of every document: (id, line_no, line), the
    * shared explode of the line-level operators below.
    */
  private def lines(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
      posexplode(split(col(text), "\n")).as(Seq("line_no", "line")))

  /** Corpus-wide exact LINE dedup (CCNet-style): every distinct
    * NON-BLANK line survives exactly once, at its first occurrence —
    * smallest (id, line_no) — blank lines always survive (they are
    * paragraph structure, not content), and documents are rebuilt from
    * their surviving lines in original order. Boilerplate (headers, nav bars, license
    * blocks) that repeats across billions of pages is what this kills
    * at training-data scale, where document-level dedup can't see it.
    *
    * Shape: one shuffle on the line text with a partial-aggregated
    * min-struct (a hot boilerplate line folds map-side — no skewed sort,
    * no window over a billion-row partition), then one shuffle on the
    * doc id to reassemble; the rebuild buffer is bounded by a single
    * document's surviving lines. Output keeps every input doc (docs
    * whose lines all lost elsewhere come back empty).
    */
  def dedupLines(docs: DataFrame, id: String, text: String): DataFrame = {
    val l = lines(docs, id, text)
    // blank (whitespace-only) lines are STRUCTURE, not content — they
    // separate paragraphs in every document, so they are exempt from
    // the corpus-wide competition (else every blank line but the
    // global first would vanish, destroying formatting corpus-wide)
    val blank = trim(col("line")) === ""
    val survivors = l.where(!blank)
      .groupBy(col("line"))
      .agg(min(struct(col(id).as("__id"), col("line_no"))).as("first"))
      .select(col("first.__id").as(id), col("first.line_no").as("line_no"),
        col("line"))
      .unionByName(l.where(blank).select(col(id), col("line_no"), col("line")))
    val rebuilt = survivors
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s.getField("line")),
          "\n").as("text_deduped"))
    docs
      .select(col(id),
        size(split(col(text), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Boilerplate-line removal: a line present in more than `maxDocs`
    * DISTINCT documents is navigation/chrome, not content — strip every
    * occurrence from every document (unlike [[dedupLines]], which keeps
    * the first). The doc-frequency pass is an exact count-distinct per
    * line, partial-aggregated on (line, id) then line, and the verdict
    * joins back as a broadcast when the boilerplate set is small —
    * which it is by construction: lines over the threshold are FEW
    * distinct strings (that's what makes them boilerplate), even though
    * their occurrences dominate the corpus.
    */
  def stripBoilerplate(docs: DataFrame, id: String, text: String,
                       maxDocs: Long): DataFrame = {
    val l = lines(docs, id, text)
    // blank lines are paragraph structure, never boilerplate (their df
    // is the corpus by definition); no broadcast HINT on the verdict
    // set — it is small for sane thresholds, but an adversarial
    // maxDocs makes it corpus-sized and a forced broadcast would OOM
    // the driver, so the optimizer (AQE) picks the join side
    val boiler = l.where(trim(col("line")) =!= "")
      .select(col("line"), col(id))
      .distinct()
      .groupBy(col("line"))
      .agg(count(lit(1)).as("line_df"))
      .where(col("line_df") > maxDocs)
      .select(col("line"))
    val kept = l
      .join(boiler.withColumn("__boiler", lit(1)), Seq("line"), "left")
      .where(col("__boiler").isNull)
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s.getField("line")),
          "\n").as("text_stripped"))
    docs
      .select(col(id),
        size(split(col(text), "\n")).cast("long").as("n_lines"))
      .join(kept, Seq(id), "left")
      .select(col(id), col("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("text_stripped"), lit("")).as("text_stripped"))
  }
}
