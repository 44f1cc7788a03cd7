package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface (builder prompt): exact/canonical
  * dedup, MinHash+LSH near-dup, token counting, quality scoring,
  * language-ID heuristic, document fingerprinting.
  *
  * All token math uses codegen'd higher-order functions (`filter`,
  * `transform`, `array_*`) — no Scala UDFs — so the plans stay inside
  * whole-stage codegen and scale linearly with document count. MinHash
  * signatures use md5 (identical across engines) so the DuckDB oracle can
  * verify them bit-for-bit.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** [[docs]] fanned out to the session parallelism for the queries whose
    * per-row projection work (md5 minhashes, n-gram construction, window
    * hashing) dominates their runtime — at bench scale the documents
    * table is one single-row-group parquet file, i.e. a 1-task scan, and
    * the heavy projection serializes on one core (guide §2.5 input skew).
    * [[Tables.fanOutSmall]] is a no-op once the scan has >= cores
    * partitions, so the 100 TB plan shape is unchanged. Light projections
    * (text_tokens, fingerprints, simhash) measured FASTER without the
    * exchange and keep the raw scan. */
  private def docsWide(s: SparkSession, dir: String): DataFrame =
    Tables.fanOutSmall(docs(s, dir))

  /** Non-empty whitespace tokens (text has trailing blanks). */
  private val tokensExpr = "filter(split(text, ' '), x -> x != '')"
  /** Distinct token set, sorted — the canonical shingle set. */
  private val tokenSetExpr = s"array_sort(array_distinct($tokensExpr))"

  /** text_tokens — token counting (whitespace tokenizer): total, distinct,
    * mean token length. */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", expr(tokensExpr))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        round(expr("aggregate(toks, 0L, (a, x) -> a + length(x))") /
          size(col("toks")), 6).as("avg_len"))
      .orderBy("doc_id")

  /** text_quality — quality scoring: char length, alpha ratio, stopword
    * ratio, repetition ratio (1 - distinct/total tokens). */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", expr(tokensExpr))
      .withColumn("n_stop", expr(
        "size(filter(toks, x -> x in ('the','a','of','and','to','in','is')))"))
      .select(
        col("doc_id"),
        length(col("text")).as("len"),
        round(length(regexp_replace(col("text"), "[^a-z]", "")) /
          length(col("text")), 6).as("alpha_ratio"),
        round(col("n_stop") / size(col("toks")), 6).as("stop_ratio"),
        round(lit(1.0) - size(array_distinct(col("toks"))) / size(col("toks")), 6)
          .as("rep_ratio"))
      .orderBy("doc_id")

  /** text_langid — language-ID heuristic (marker-token n-gram rule, the
    * deterministic skeleton of a real classifier) scored as a confusion
    * matrix against the labeled `lang` column. */
  def textLangid(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("predicted",
        when(col("text").contains("the ") && col("text").contains(" and "), "en")
          .when(col("text").contains("query "), "q")
          .otherwise("other"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  /** text_fingerprint — document fingerprint: md5 over the sorted distinct
    * token set (canonical content hash, robust to reordering/repetition). */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        md5(array_join(expr(tokenSetExpr), " ")).as("fingerprint"))
      .orderBy("doc_id")

  /** dedup_canonical — exact dedup on the canonical fingerprint: one keeper
    * (min doc_id) per cluster plus the cluster size. The exact-hash variant
    * (md5 of raw text) is f13_geom_hash in RelationalQueries. */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(array_join(expr(tokenSetExpr), " ")).as("fingerprint"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") > 1)
      .orderBy("fingerprint")

  /** MinHash signature k=4: mh_i = min over the token set of
    * md5("<i>|" + token). md5 is engine-portable, and min over fixed-width
    * hex strings is a valid uniform hash ordering. */
  private def minhashCols: Seq[(String, String)] =
    (0 until 4).map { i =>
      s"mh$i" -> s"array_min(transform($tokenSetExpr, t -> md5(concat('$i|', t))))"
    }

  /** dedup_minhash — per-document MinHash signature (the map side of
    * MinHash-LSH; O(n·tokens), embarrassingly parallel). */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val base = minhashCols.foldLeft(docs(s, dir)) {
      case (df, (name, e)) => df.withColumn(name, expr(e))
    }
    base.select(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3"))
      .orderBy("doc_id")
  }

  /** dedup_lsh_pairs — MinHash-LSH near-dup pairs within each `source`
    * shard (the dedup-within-crawl-shard shape): 8 minhashes → 2 bands ×
    * 4 rows; docs sharing (source, band) become candidates, then exact
    * token-set Jaccard filters ≥ 0.9.
    *
    * Scale notes (measured at sf0.1):
    * - ALL bands ride ONE keyed shuffle: the (bandIdx, bandValue) explode
    *   self-joins on the composite key — same candidate set as per-band
    *   equi-joins UNIONed, without n_bands exchanges over the same rows,
    *   and AQE gets a single skew-split domain. The form to avoid is an
    *   `a.band0=b.band0 OR a.band1=b.band1` predicate: it cannot
    *   hash-join — Catalyst plans a nested-loop over n² pairs (253 s vs
    *   ~2 s).
    * - 4-row bands: collision probability ≈ J⁴, so candidates stay ∝ true
    *   near-dups, the property that makes LSH work at 100 TB (2-row bands
    *   over this corpus yield 25M candidates; 4-row, per-source: ~200k).
    * - the shard key rides the same shuffle as the band join (one compound
    *   key), so sharding is free. */
  def dedupLshPairs(s: SparkSession, dir: String): DataFrame =
    lshPairs(s, dir).orderBy("doc_a", "doc_b")

  /** The pair list WITHOUT the presentation sort — downstream consumers
    * (connected components) re-shuffle on their own keys, so a global
    * range-partition here would be pure waste. */
  private def lshPairs(s: SparkSession, dir: String): DataFrame = {
    val mh8 = (0 until 8).map { i =>
      s"mh$i" -> s"array_min(transform($tokenSetExpr, t -> md5(concat('$i|', t))))"
    }
    val base = mh8.foldLeft(docsWide(s, dir)) {
      case (df, (name, e)) => df.withColumn(name, expr(e))
    }.withColumn("toks", expr(tokenSetExpr))
      // INVARIANT the first-band dedup below leans on: exactly TWO bands,
      // and band0/band1 are null only TOGETHER (both are concats of
      // minhashes over the SAME token set — an empty set nulls every
      // minhash, hence both bands). The join predicate
      // (bi = 0 OR band0 ≠ band0) hard-codes both facts: a third band or
      // an independently-nullable band would silently re-introduce
      // duplicate (or dropped) candidate pairs that the replaced
      // .distinct() used to absorb. Same invariant in
      // SimilarityQueries.embedPairs.
      .select(col("doc_id"), col("source"), col("toks"),
        concat(col("mh0"), col("mh1"), col("mh2"), col("mh3")).as("band0"),
        concat(col("mh4"), col("mh5"), col("mh6"), col("mh7")).as("band1"))
      // signatures are scanned 5x (2 join sides x 2 bands + token fetch) and
      // Catalyst cannot reuse exchanges across self-join branches — cache the
      // (small: one row per doc) signature relation instead of paying the
      // md5 transform five times; registered so the caller can release it
      .cache()
    graft.operators.OperatorCaches.register(base)

    // candidates on the NARROW key relation — only (doc_id, source, bands)
    // move through the band shuffle; token arrays are fetched once per
    // UNIQUE pair for the exact-Jaccard confirm. Pairs are unique BY
    // CONSTRUCTION: each pair is emitted only from its FIRST shared band
    // (bi=0, or bi=1 when band0 differs), replacing the old `.distinct()`
    // (an exchange + two hash aggregates over the candidate relation)
    // with one codegen'd predicate in the join — band0 rides the band
    // shuffle once more per row as the dedup witness.
    val exploded = base.select(col("doc_id"), col("source"), col("band0"),
        posexplode(array(col("band0"), col("band1"))))
      .withColumnRenamed("pos", "bi").withColumnRenamed("col", "bv")
    // token fetch: BOTH pair sides probe the IDENTICAL (doc_id, toks)
    // projection, one canonical form for both broadcast builds. It does
    // NOT make Spark reuse the second build: the executed plan still
    // shows two BroadcastQueryStages over two cache-scan stages of the
    // same relation (plans/r16/dedup_lsh_pairs_exec.txt,
    // OPTIMIZATION_r16.md) — a recorded negative result; at sf0.1 the
    // second build is a ~500-row hashed relation.
    val tok = base.select(col("doc_id"), col("toks"))
    exploded.as("a").join(exploded.as("b"),
        col("a.source") === col("b.source") &&
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id") &&
        (col("a.bi") === 0 || col("a.band0") =!= col("b.band0")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .join(tok.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(tok.as("fb"), col("doc_b") === col("fb.doc_id"))
      .withColumn("inter", graft.functions.ArrayExpressions.sorted_intersect_size(col("fa.toks"), col("fb.toks")))
      .withColumn("jaccard",
        round(col("inter") /
          (size(col("fa.toks")) + size(col("fb.toks")) - col("inter")), 6))
      .filter(col("jaccard") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** text_idf — corpus vocabulary statistics (document frequency + IDF),
    * the term-weighting basis for quality scoring and sparse retrieval:
    * explode each doc's DISTINCT token set, one keyed aggregation for df,
    * broadcast the 1-row corpus count. The explode fans out rows but
    * stays map-side; the only shuffle is the token groupBy — the same
    * plan at 100 TB, with token-key skew absorbed by partial aggregation. */
  def textIdf(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val total = d.agg(count(lit(1)).as("__n"))
    d.select(explode(expr(tokenSetExpr)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .select(col("token"), col("df"),
        round(log(col("__n") / col("df")), 6).as("idf"))
      .orderBy("token")
  }

  /** text_perplexity — CCNet-style unigram LM quality scoring
    * ([[graft.operators.TextAnalysis.unigramNll]]): the corpus trains its
    * own add-one-smoothed unigram model, every doc scored by average NLL
    * and perplexity. Model = one keyed agg + broadcast; the corpus
    * explode is map-side; only the per-doc rollup shuffles. */
  def textPerplexity(s: SparkSession, dir: String): DataFrame =
    // plain docs, NOT docsWide: the flat explode feeds both the model and
    // the scoring branch, so a fanned base pays the round-robin text
    // exchange twice — measured 0.50 s plain vs 1.05 s fanned (ProfileMain)
    graft.operators.TextAnalysis.unigramNll(docs(s, dir), "doc_id", "text",
        c => filter(split(c, " "), x => x =!= ""))
      .orderBy("doc_id")

  /** text_repetition — Gopher-style repetition gates
    * ([[graft.operators.TextAnalysis.topGramFraction]]/dupGramFraction):
    * top-unigram fraction, top-2-gram fraction, duplicate-3-gram
    * fraction. Pure per-row expressions — the whole corpus streams
    * through one codegen'd scan, zero shuffle before the final sort. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis._
    docs(s, dir).select(col("doc_id"),
        round(topGramFraction(col("text"), 1), 6).as("top1_frac"),
        round(topGramFraction(col("text"), 2), 6).as("top2_frac"),
        round(dupGramFraction(col("text"), 3), 6).as("dup3_frac"))
      .orderBy("doc_id")
  }

  /** text_redact — PII scrubbing ([[graft.operators.TextAnalysis
    * .redactPii]]): every doc gets a deterministic synthetic email and
    * dotted-quad appended (the raw corpus has none), then the scrub
    * replaces both with typed placeholders; audit counts equal the
    * placeholders emitted (n_ip counts the email-redacted intermediate).
    * The patterns live in the Java-regex ∩ RE2 common subset,
    * so DuckDB replays the identical regexes; md5 of the redacted text
    * proves the rewrite byte-for-byte. */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    docs(s, dir)
      .select(col("doc_id"),
        concat(
          substring(col("text"), 1, 32), lit(" contact u"),
          col("doc_id").cast("string"), lit("@ex"),
          (col("doc_id") % 7).cast("string"), lit(".org at 10."),
          (col("doc_id") % 200).cast("string"), lit(".7."),
          (col("doc_id") % 100).cast("string"), lit(" done")).as("t"))
      .select(col("doc_id"), TextAnalysis.redactPii(col("t")).as("p"))
      .select(col("doc_id"),
        col("p.n_email").cast("long").as("n_email"),
        col("p.n_ip").cast("long").as("n_ip"),
        md5(col("p.redacted").cast("binary")).as("red_hash"),
        length(col("p.redacted")).cast("long").as("red_len"))
      .orderBy("doc_id")
  }

  /** text_pack — sequence packing ([[graft.operators.TextAnalysis
    * .packSequences]]): documents laid out contiguously per source in
    * doc_id order and cut into 256-token training sequences by prefix
    * sum. All-integer; DuckDB replays the window directly. */
  def textPack(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    TextAnalysis.packSequences(docs(s, dir), "doc_id", "text", "source", 256)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("seq_id"), col("seq_offset"))
      .orderBy("doc_id")
  }

  /** text_decontaminate — test-set overlap removal
    * ([[graft.operators.Dedup.decontaminate]]): docs from src0 act as the
    * "benchmark"; every other doc sharing a word-3-gram with it is flagged
    * with its shared-gram count. Benchmark grams broadcast; corpus rows
    * never shuffle — only the per-doc rollup does. */
  def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docsWide(s, dir)
    graft.operators.Dedup.decontaminate(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
        "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }

  /** text_boilerplate — corpus-frequent-content scoring
    * ([[graft.operators.TextAnalysis.boilerplate]], the C4/CCNet
    * repeated-line filter class at shingle granularity): word-3-grams
    * present in ≥ ceil(0.006·N) documents are boilerplate; each doc
    * reports its distinct-gram count, boilerplate-gram count and ratio.
    * One keyed shuffle for the doc frequencies, broadcast back. */
  def textBoilerplate(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.boilerplate(
        docsWide(s, dir), "doc_id", "text", n = 3, minDocFrac = 0.006)
      .orderBy("doc_id")

  /** dedup_components — near-dup pairs folded into dedup CLUSTERS
    * ([[graft.operators.Dedup.connectedComponents]]): every doc implicated
    * in an LSH pair mapped to its cluster representative (the smallest
    * reachable doc_id). This is the step an actual dedup run needs after
    * pair generation — "keep component = doc_id, drop the rest". Min-label
    * propagation over the symmetrized pair list, one keyed aggregation per
    * pass, O(cluster diameter) passes (near-dup clusters are near-cliques,
    * so 2-4 in practice at any scale). */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.connectedComponents(
      lshPairs(s, dir).select("doc_a", "doc_b"), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")

  /** dedup_simhash — 16-bit SimHash from the token set: bit j is the sign of
    * sum over tokens of (+1 if bit j of md5(token) else -1). Portable via
    * md5-hex nibble arithmetic; near-dups share most bits (hamming-ball
    * lookup is a prefix-bucket join, same LSH shape as above). */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // bit j of token hash = bit (j%4) of hex nibble j/4 of md5(token);
    // simhash bit j set iff the +1/-1 vote sum over tokens is positive.
    val sumExpr = (0 until 16).map { j =>
      val nib = j / 4; val bit = j % 4
      val tokenBit =
        s"(CASE WHEN (cast(conv(substring(md5(t), ${nib + 1}, 1), 16, 10) as int) div ${1 << bit}) % 2 = 1 THEN 1 ELSE -1 END)"
      s"CASE WHEN aggregate(transform(toks, t -> $tokenBit), 0, (a, x) -> a + x) > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString(" + ")
    docs(s, dir)
      .withColumn("toks", expr(tokenSetExpr))
      .select(col("doc_id"), expr(sumExpr).cast("int").as("simhash"))
      .orderBy("doc_id")
  }

  /** dedup_ngram — character-3-gram Jaccard over adjacent documents within a
    * source shard (the shingle-based near-dup basis for texts without token
    * structure — CJK, code; Dedup.charNgrams): each doc scores against its
    * predecessor via one lag window — a single shuffle on the shard key, no
    * self-join. */
  def dedupNgram(s: SparkSession, dir: String): DataFrame = {
    val g3Expr = "array_sort(array_distinct(transform(" +
      "sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))))"
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    docs(s, dir)
      .withColumn("g3", expr(g3Expr))
      .withColumn("prev_id", lag("doc_id", 1).over(bySource))
      .withColumn("prev_g3", lag("g3", 1).over(bySource))
      .filter(col("prev_id").isNotNull)
      .withColumn("inter", graft.functions.ArrayExpressions.sorted_intersect_size(col("g3"), col("prev_g3")))
      .select(col("prev_id").as("doc_a"), col("doc_id").as("doc_b"),
        round(col("inter") /
          (size(col("g3")) + size(col("prev_g3")) - col("inter")), 6).as("jaccard3"))
      .orderBy("doc_a", "doc_b")
  }

  /** mix_stratified — deterministic data mixing (the training-pipeline
    * "source weights" step): per-source hash-threshold sampling via
    * [[graft.operators.Sampling.stratified]]. No RNG — membership is a
    * pure function of doc_id, so retries and different cluster sizes keep
    * identical samples; the rates dim broadcasts and the md5-threshold
    * filter is codegen'd, so the only shuffle is the count rollup. */
  private val mixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (i % 4 + 1) * 0.25).toMap

  def mixStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratified(s, docs(s, dir), "doc_id", "source", mixRates)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_id"))
      .orderBy("source")

  /** mix_weighted — deterministic WEIGHTED sampling
    * ([[graft.operators.Sampling.weightedTopK]], Efraimidis–Spirtakis
    * A-ES): the 5 docs per source drawn without replacement with
    * probability ∝ length. The md5-derived uniforms mean DuckDB can
    * replay the exact draw — both engines rank the same ln(u)/w keys. */
  def mixWeighted(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedTopK(
        docs(s, dir), "doc_id", "source",
        length(col("text")).cast("double") + 1.0, 5)
      .select(col("source"), col("doc_id"), col("sample_rank"))
      .orderBy("source", "sample_rank")

  /** dedup_spans — exact duplicate-span detection
    * ([[graft.operators.Dedup.duplicateSpans]], the Spark shape of
    * suffix-array substring dedup): 5-token windows whose hash recurs
    * anywhere in the corpus, rolled up to per-doc duplicated-token
    * coverage (union of overlapping dup windows via a running-max
    * window). All-integer interval math, so the oracle is exact. */
  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    // docsWide: the span explode is recomputed for both consumers (see
    // duplicateSpans — the r16 no-cache decision), and from a 1-split
    // scan both passes would serialize on one core. Measured COLD
    // (ProfileMain): plain 1.35 s, fanned 1.15 s, fanned + binary h
    // 1.05 s, fanned + binary h + no cache 1.09 s.
    graft.operators.Dedup.duplicateSpans(docsWide(s, dir), "doc_id", "text", k = 5)
      .orderBy("doc_id")

  /** text_tfidf_cos — TF-IDF cosine rerank
    * ([[graft.operators.TextAnalysis.tfidfCosine]]) over the same
    * adjacent-per-source candidate pairs dedup_ngram scores: raw-count TF
    * × ln(N/df) IDF, sparse token-join dot, per-doc norms. The
    * content-similarity step that follows candidate generation in a
    * curation pipeline. */
  def textTfidfCos(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val pairs = d
      .withColumn("doc_a", lag("doc_id", 1).over(bySource))
      .filter(col("doc_a").isNotNull)
      .select(col("doc_a"), col("doc_id").as("doc_b"))
    graft.operators.TextAnalysis.tfidfCosine(d, pairs, "doc_id", "text",
        c => filter(split(c, " "), x => x =!= ""))
      .orderBy("doc_a", "doc_b")
  }

  val all: scala.collection.immutable.ListMap[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(
    "mix_stratified" -> mixStratified _,
    "mix_weighted" -> mixWeighted _,
    "dedup_spans" -> dedupSpans _,
    "text_tfidf_cos" -> textTfidfCos _,
    "dedup_ngram" -> dedupNgram _,
    "text_tokens" -> textTokens _,
    "text_quality" -> textQuality _,
    "text_langid" -> textLangid _,
    "text_fingerprint" -> textFingerprint _,
    "dedup_canonical" -> dedupCanonical _,
    "dedup_minhash" -> dedupMinhash _,
    "dedup_lsh_pairs" -> dedupLshPairs _,
    "dedup_components" -> dedupComponents _,
    "dedup_simhash" -> dedupSimhash _,
    "text_idf" -> textIdf _,
    "text_perplexity" -> textPerplexity _,
    "text_decontaminate" -> textDecontaminate _,
    "text_boilerplate" -> textBoilerplate _,
    "text_repetition" -> textRepetition _,
    "text_redact" -> textRedact _,
    "text_pack" -> textPack _)

  private val tokSql = "list_filter(string_split(text, ' '), x -> x != '')"
  private val tokSetSql = s"list_sort(list_distinct($tokSql))"
  private def mhSql(i: Int) =
    s"list_aggregate(list_transform($tokSetSql, t -> md5(concat('$i|', t))), 'min')"

  val oracle: Map[String, String] = Map(
    "mix_stratified" -> {
      val vals = mixRates.toSeq.sorted.map { case (k, r) =>
        s"('$k', '${graft.operators.Sampling.rateThreshold(r)}')"
      }.mkString(", ")
      s"""WITH rates(src, thr) AS (VALUES $vals)
          SELECT source, count(*) AS n_kept, min(doc_id) AS first_id
          FROM documents JOIN rates ON source = src
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < thr
          GROUP BY source ORDER BY source"""
    },
    "mix_weighted" -> {
      // u = (first 48 md5 bits + 0.5) / 2^48, rebuilt nibble-by-nibble
      val uSum = (1 to 12).map(i =>
        s"(strpos('0123456789abcdef', substr(m,$i,1))-1)*${1L << (4 * (12 - i))}.0")
        .mkString(" +\n             ")
      s"""WITH h AS (SELECT source, doc_id, length(text) + 1.0 AS w,
               md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
          v AS (SELECT source, doc_id, w,
            ($uSum + 0.5)/281474976710656.0 AS u FROM h),
          r AS (SELECT source, doc_id,
                row_number() OVER (PARTITION BY source
                  ORDER BY ln(u)/w DESC, doc_id) AS sample_rank
          FROM v)
          SELECT source, doc_id, sample_rank FROM r
          WHERE sample_rank <= 5
          ORDER BY source, sample_rank"""
    },
    "text_tfidf_cos" ->
      s"""WITH tok AS (SELECT doc_id, UNNEST($tokSql) AS token FROM documents),
          tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
                 FROM tok GROUP BY doc_id, token),
          nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          idf AS (SELECT token, CAST(count(*) AS DOUBLE) AS df
                  FROM tf GROUP BY token),
          w AS (SELECT tf.doc_id, tf.token, tf.tf * ln(nn.n / idf.df) AS w
                FROM tf CROSS JOIN nn JOIN idf ON tf.token = idf.token),
          nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY doc_id),
          pairs AS (SELECT * FROM (
            SELECT lag(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS doc_a,
                   doc_id AS doc_b
            FROM documents) WHERE doc_a IS NOT NULL),
          dt AS (SELECT p.doc_a, p.doc_b, sum(wa.w * wb.w) AS dot
                 FROM pairs p
                 JOIN w wa ON wa.doc_id = p.doc_a
                 JOIN w wb ON wb.doc_id = p.doc_b AND wb.token = wa.token
                 GROUP BY p.doc_a, p.doc_b)
          SELECT p.doc_a, p.doc_b,
            round(coalesce(dt.dot, 0.0) / (na.nrm * nb.nrm), 6) AS tfidf_cos
          FROM pairs p
          LEFT JOIN dt ON p.doc_a = dt.doc_a AND p.doc_b = dt.doc_b
          JOIN nrm na ON na.doc_id = p.doc_a
          JOIN nrm nb ON nb.doc_id = p.doc_b
          ORDER BY p.doc_a, p.doc_b""",
    "dedup_spans" ->
      s"""WITH t0 AS (SELECT doc_id, $tokSql AS t FROM documents),
          t1 AS (SELECT doc_id, t, len(t) AS n FROM t0 WHERE len(t) >= 5),
          sp AS (SELECT doc_id, n,
            UNNEST(list_transform(range(0, n - 5 + 1),
              i -> {'start': i, 'h': md5(array_to_string(t[i+1:i+5], ' '))})) AS s
          FROM t1),
          fl AS (SELECT doc_id, n, s.start AS start, s.h AS h FROM sp),
          dup AS (SELECT h FROM fl GROUP BY h HAVING count(*) > 1),
          j AS (SELECT doc_id, n, start FROM fl JOIN dup USING (h)),
          c AS (SELECT doc_id, n, start,
            max(start + 5) OVER (PARTITION BY doc_id ORDER BY start
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM j),
          v AS (SELECT doc_id, n,
            greatest(0, start + 5 - greatest(start, coalesce(prev_end, 0))) AS cov
          FROM c)
          SELECT doc_id, count(*) AS n_dup_spans,
            CAST(sum(cov) AS BIGINT) AS dup_tokens,
            CAST(n AS BIGINT) AS n_tokens,
            round(sum(cov) / n, 6) AS dup_fraction
          FROM v GROUP BY doc_id, n ORDER BY doc_id""",
    "dedup_ngram" ->
      """WITH g AS (
           SELECT doc_id, source,
             CASE WHEN length(text) >= 3 THEN
               list_sort(list_distinct(list_transform(
                 range(1, length(text) - 2 + 1),
                 i -> substring(text, i, 3))))
             ELSE [] END AS g3
           FROM documents),
         p AS (
           SELECT doc_id, source, g3,
                  lag(doc_id) OVER w AS prev_id, lag(g3) OVER w AS prev_g3
           FROM g WINDOW w AS (PARTITION BY source ORDER BY doc_id))
         SELECT prev_id AS doc_a, doc_id AS doc_b,
                round(CAST(len(list_intersect(g3, prev_g3)) AS DOUBLE)
                  / (len(g3) + len(prev_g3) - len(list_intersect(g3, prev_g3))), 6)
                  AS jaccard3
         FROM p WHERE prev_id IS NOT NULL
         ORDER BY doc_a, doc_b""",
    "text_tokens" ->
      s"""SELECT doc_id, len(toks) AS n_tokens,
          len(list_distinct(toks)) AS n_uniq,
          round(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                / len(toks), 6) AS avg_len
          FROM (SELECT doc_id, $tokSql AS toks FROM documents)
          ORDER BY doc_id""",
    "text_quality" ->
      s"""SELECT doc_id, length(text) AS len,
          round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                / length(text), 6) AS alpha_ratio,
          round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                / len(toks), 6) AS stop_ratio,
          round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS rep_ratio
          FROM (SELECT doc_id, text, $tokSql AS toks FROM documents)
          ORDER BY doc_id""",
    "text_langid" ->
      """SELECT lang,
          CASE WHEN text LIKE '%the %' AND text LIKE '% and %' THEN 'en'
               WHEN text LIKE '%query %' THEN 'q'
               ELSE 'other' END AS predicted,
          count(*) AS n
          FROM documents GROUP BY 1, 2 ORDER BY lang, predicted""",
    "text_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string($tokSetSql, ' ')) AS fingerprint
          FROM documents ORDER BY doc_id""",
    "dedup_canonical" ->
      s"""SELECT md5(array_to_string($tokSetSql, ' ')) AS fingerprint,
          min(doc_id) AS keeper, count(*) AS cluster_size
          FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint""",
    "dedup_minhash" ->
      s"""SELECT doc_id, ${mhSql(0)} AS mh0, ${mhSql(1)} AS mh1,
          ${mhSql(2)} AS mh2, ${mhSql(3)} AS mh3
          FROM documents ORDER BY doc_id""",
    "dedup_lsh_pairs" -> {
      def mh(i: Int) =
        s"list_aggregate(list_transform($tokSetSql, t -> md5(concat('$i|', t))), 'min')"
      s"""WITH sig AS (
            SELECT doc_id, source, $tokSetSql AS toks,
                   concat(${mh(0)}, ${mh(1)}, ${mh(2)}, ${mh(3)}) AS band0,
                   concat(${mh(4)}, ${mh(5)}, ${mh(6)}, ${mh(7)}) AS band1
            FROM documents),
          cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_intersect(a.toks, b.toks)) AS inter,
                   len(a.toks) AS na, len(b.toks) AS nb
            FROM sig a JOIN sig b
              ON a.source = b.source AND a.band0 = b.band0 AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id, b.doc_id, len(list_intersect(a.toks, b.toks)),
                   len(a.toks), len(b.toks)
            FROM sig a JOIN sig b
              ON a.source = b.source AND a.band1 = b.band1 AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b,
                 round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
          FROM cand
          WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.9
          ORDER BY doc_a, doc_b"""
    },
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
          g AS (SELECT doc_id, toks,
            list_transform(range(1, greatest(len(toks)-1,0)+1),
              i -> array_to_string(toks[i:i+1], ' ')) AS g2,
            list_transform(range(1, greatest(len(toks)-2,0)+1),
              i -> array_to_string(toks[i:i+2], ' ')) AS g3
          FROM t)
          SELECT doc_id,
            round(CASE WHEN len(toks)=0 THEN 0.0
              ELSE CAST(list_max(list_transform(list_distinct(toks),
                d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)/len(toks) END, 6)
              AS top1_frac,
            round(CASE WHEN len(g2)=0 THEN 0.0
              ELSE CAST(list_max(list_transform(list_distinct(g2),
                d -> len(list_filter(g2, x -> x = d)))) AS DOUBLE)/len(g2) END, 6)
              AS top2_frac,
            round(CASE WHEN len(g3)=0 THEN 0.0
              ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3) END, 6)
              AS dup3_frac
          FROM g ORDER BY doc_id""",
    "text_redact" ->
      """WITH t AS (SELECT doc_id,
           substring(text, 1, 32) || ' contact u' || CAST(doc_id AS VARCHAR)
             || '@ex' || CAST(doc_id % 7 AS VARCHAR)
             || '.org at 10.' || CAST(doc_id % 200 AS VARCHAR)
             || '.7.' || CAST(doc_id % 100 AS VARCHAR) || ' done' AS s
         FROM documents)
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(regexp_extract_all(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(regexp_replace(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
           md5(regexp_replace(regexp_replace(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b(\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g')) AS red_hash,
           CAST(length(regexp_replace(regexp_replace(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b(\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g')) AS BIGINT) AS red_len
         FROM t ORDER BY doc_id""",
    "text_pack" ->
      s"""WITH t AS (SELECT doc_id, source,
           CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) - n_tokens AS bef
         FROM t)
         SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tokens,
                CAST(bef // 256 AS BIGINT) AS seq_id,
                CAST(bef % 256 AS BIGINT) AS seq_offset
         FROM c ORDER BY doc_id""",
    "text_decontaminate" ->
      s"""WITH g AS (
            SELECT doc_id, source,
                   unnest(list_distinct(list_transform(
                     range(1, greatest(len($tokSql) - 2, 0) + 1),
                     i -> array_to_string(($tokSql)[i:i+2], ' ')))) AS gram
            FROM documents),
          bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
          SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared
          FROM g JOIN bench ON g.gram = bench.gram
          WHERE g.source != 'src0'
          GROUP BY g.doc_id ORDER BY g.doc_id""",
    "text_boilerplate" ->
      s"""WITH g AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                     range(1, greatest(len($tokSql) - 2, 0) + 1),
                     i -> array_to_string(($tokSql)[i:i+2], ' ')))) AS gram
            FROM documents),
          nd AS (SELECT count(*) AS n FROM documents),
          freq AS (SELECT gram FROM g, nd GROUP BY gram, n
                   HAVING count(*) >= ceil(0.006 * n))
          SELECT g.doc_id,
                 CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(count(freq.gram) AS BIGINT) AS n_boiler,
                 round(CAST(count(freq.gram) AS DOUBLE) / count(*), 6)
                   AS boiler_ratio
          FROM g LEFT JOIN freq ON g.gram = freq.gram
          GROUP BY g.doc_id ORDER BY g.doc_id""",
    "text_perplexity" ->
      s"""WITH tk AS (SELECT doc_id, unnest($tokSql) AS t FROM documents),
          model AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
                  FROM model),
          probs AS (SELECT t, ln((c + 1.0) / (n + v)) AS lp FROM model, tot),
          agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, sum(lp) AS s1
                  FROM tk JOIN probs USING (t) GROUP BY doc_id)
          SELECT doc_id, n_tokens,
                 round(-s1 / n_tokens, 6) AS avg_nll,
                 round(exp(round(-s1 / n_tokens, 6)), 6) AS perplexity
          FROM agg ORDER BY doc_id""",
    "text_idf" ->
      s"""WITH toks AS (
            SELECT doc_id, unnest($tokSetSql) AS token FROM documents),
          tot AS (SELECT count(*) AS n FROM documents)
          SELECT token, CAST(count(*) AS BIGINT) AS df,
                 round(ln(CAST(n AS DOUBLE) / count(*)), 6) AS idf
          FROM toks, tot GROUP BY token, n ORDER BY token""",
    "dedup_components" -> {
      def mh(i: Int) =
        s"list_aggregate(list_transform($tokSetSql, t -> md5(concat('$i|', t))), 'min')"
      s"""WITH RECURSIVE sig AS (
            SELECT doc_id, source, $tokSetSql AS toks,
                   concat(${mh(0)}, ${mh(1)}, ${mh(2)}, ${mh(3)}) AS band0,
                   concat(${mh(4)}, ${mh(5)}, ${mh(6)}, ${mh(7)}) AS band1
            FROM documents),
          cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_intersect(a.toks, b.toks)) AS inter,
                   len(a.toks) AS na, len(b.toks) AS nb
            FROM sig a JOIN sig b
              ON a.source = b.source AND a.band0 = b.band0 AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id, b.doc_id, len(list_intersect(a.toks, b.toks)),
                   len(a.toks), len(b.toks)
            FROM sig a JOIN sig b
              ON a.source = b.source AND a.band1 = b.band1 AND a.doc_id < b.doc_id),
          pairs AS (
            SELECT doc_a, doc_b FROM cand
            WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.9),
          edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
          reach AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
          SELECT s AS doc_id, least(s, min(d)) AS component
          FROM reach GROUP BY s ORDER BY doc_id"""
    },
    "dedup_simhash" -> {
      val bits = (0 until 16).map { j =>
        val nib = j / 4; val bit = j % 4
        s"""CASE WHEN list_aggregate(list_transform(toks, t ->
            CASE WHEN (CAST(('0x' || substring(md5(t), ${nib + 1}, 1)) AS BIGINT) // ${1 << bit}) % 2 = 1
            THEN 1 ELSE -1 END), 'sum') > 0 THEN ${1 << j} ELSE 0 END"""
      }.mkString(" + ")
      s"""SELECT doc_id, CAST($bits AS INT) AS simhash
          FROM (SELECT doc_id, $tokSetSql AS toks FROM documents)
          ORDER BY doc_id"""
    })
}
