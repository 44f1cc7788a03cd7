package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, as reusable
  * transformations over any DataFrame with an id column and a text
  * column. The harness queries (graft.queries.TextQueries) are these
  * operators applied to the `documents` table.
  *
  * Scale design: everything is expression-only (codegen'd, no UDFs);
  * candidate generation always goes through an equi-joinable key (hash,
  * band, bucket) so the shuffle is keyed and bounded — never an n² plan.
  */
object Dedup {

  private def toks(text: Column): Column =
    filter(split(text, " "), x => x =!= "")

  /** Sorted distinct token set. */
  def tokenSet(text: Column): Column = array_sort(array_distinct(toks(text)))

  /** Exact dedup key: md5 of the raw text. */
  def exactKey(text: Column): Column = md5(text)

  /** Canonical dedup key: md5 over the sorted distinct token set —
    * invariant to token order and repetition. */
  def canonicalKey(text: Column): Column =
    md5(array_join(tokenSet(text), " "))

  /** Keep one row per key (smallest id wins — deterministic). */
  def dropDuplicatesByKey(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signature k: element i = min over the token set of
    * md5("<i>|token") — engine-portable, uniform over hex ordering. */
  def minhash(text: Column, k: Int): Seq[Column] =
    (0 until k).map(i =>
      array_min(transform(tokenSet(text), t => md5(concat(lit(s"$i|"), t))))
        .as(s"mh$i"))

  /** SimHash (nBits ≤ 32): bit j = sign of the ±1 vote sum over tokens of
    * bit j of md5(token). Near-dups differ in few bits. */
  def simhash(text: Column, nBits: Int): Column = {
    require(nBits >= 1 && nBits <= 32, "1..32 bits")
    val ts = tokenSet(text)
    // bit j of a token's hash = bit (j%4) of hex nibble j/4 of md5(token)
    def tokenBit(t: Column, j: Int): Column = {
      val nib = j / 4; val bit = j % 4
      val nibVal = conv(substring(md5(t), nib + 1, 1), 16, 10).cast("int")
      when((nibVal / lit(1 << bit)).cast("int") % 2 === 1, lit(1)).otherwise(lit(-1))
    }
    val terms = (0 until nBits).map { j =>
      when(aggregate(transform(ts, t => tokenBit(t, j)), lit(0), (a, x) => a + x) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }
    terms.reduce(_ + _).cast("long")
  }

  /** MinHash-LSH near-duplicate pairs: nHashes minhashes split into bands
    * of `rowsPerBand`; pairs sharing (shardCol?, band) are candidates;
    * exact token-set Jaccard ≥ threshold confirms.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b. All bands ride one
    * keyed shuffle — a (bandIdx, bandValue) explode + composite equi-join
    * (an OR-of-bands join predicate would degenerate to a nested loop —
    * see TextQueries.dedupLshPairs scale notes). */
  def lshNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      nHashes: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.9,
      shardCol: Option[String] = None): DataFrame = {
    require(nHashes % rowsPerBand == 0, "nHashes must divide into bands")
    val nBands = nHashes / rowsPerBand
    val mh = minhash(col(textCol), nHashes)
    val bands = (0 until nBands).map { b =>
      concat(mh.slice(b * rowsPerBand, (b + 1) * rowsPerBand): _*).as(s"band$b")
    }
    val base = df.select(
      Seq(col(idCol).as("__id"), tokenSet(col(textCol)).as("__toks")) ++
        shardCol.map(c => col(c).as("__shard")).toSeq ++ bands: _*)
      .cache() // scanned (2×nBands + 1) times across self-join branches;
    OperatorCaches.register(base) // caller releases via unpersistAll()

    // candidates on the NARROW key relation (ids+bands move through the
    // band shuffle, token sets don't), pair-dedup, then one token fetch +
    // one intersection per unique pair. ONE exchange for all bands: the
    // (bandIdx, bandValue) explode keyed-joins every band in a single
    // shuffle (the per-band-join ∪ form ran nBands exchanges over the
    // same rows for the identical candidate set) — and gives AQE one
    // skew-split domain instead of nBands.
    val keys = base.drop("__toks")
    val bandArr = array((0 until nBands).map(b => col(s"band$b")): _*)
    val exploded = keys.select(
        (Seq(col("__id")) ++ shardCol.map(_ => col("__shard")).toSeq :+
          posexplode(bandArr)): _*)
      .withColumnRenamed("pos", "__bi").withColumnRenamed("col", "__bv")
    val cond = shardCol
      .map(_ => col("a.__shard") === col("b.__shard"))
      .foldLeft(col("a.__bi") === col("b.__bi") &&
        col("a.__bv") === col("b.__bv") && col("a.__id") < col("b.__id"))(_ && _)
    // token fetch: both pair sides probe the IDENTICAL (__id, __toks)
    // projection, one canonical form for both builds. Spark does NOT
    // reuse the second broadcast build even so: the executed plan keeps
    // two BroadcastQueryStages over the same cached relation
    // (plans/r16/dedup_lsh_pairs_exec.txt, OPTIMIZATION_r16.md) — a
    // recorded negative result; same shape as TextQueries.lshPairs.
    val tok = base.select(col("__id"), col("__toks"))
    exploded.as("a").join(exploded.as("b"), cond)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
      .join(tok.as("fa"), col("id_a") === col("fa.__id"))
      .join(tok.as("fb"), col("id_b") === col("fb.__id"))
      .withColumn("__inter", graft.functions.ArrayExpressions.sorted_intersect_size(col("fa.__toks"), col("fb.__toks")))
      .withColumn("jaccard", // two empty sets: 1.0 (ANSI 0/0 guard, see jaccard)
        when(size(col("fa.__toks")) + size(col("fb.__toks")) === 0, lit(1.0))
          .otherwise(col("__inter") /
            (size(col("fa.__toks")) + size(col("fb.__toks")) - col("__inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact duplicate-SPAN detection — the substring-level dedup class
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better", which finds repeated ≥k-token spans with a suffix
    * array; this is the Spark-shaped equivalent over fixed k-token
    * windows): every window hashes to 16 bytes, a window whose hash
    * recurs ANYWHERE in the corpus (other docs or the same one) is a
    * duplicate span, and each affected doc reports the union coverage of
    * its duplicated windows. Scale shape: the window explode is map-side
    * and ships (id, start, hash) only — text never shuffles; duplicate
    * detection is one keyed count per hash; the interval union is a
    * per-doc window over dup spans only. At 100 TB the hash relation is
    * the only wide shuffle, ~24 bytes per window.
    *
    * Precondition: `df` must be deterministic. The window explode is
    * recomputed for the dup count and for the join (not cached, see
    * below), so a `sample`, `rand` or shuffle-order-dependent id column
    * could give the two passes different rows. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"window of $k tokens")
    import org.apache.spark.sql.expressions.Window
    val spans = df
      .select(col(idCol).as("__id"), toks(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .filter(col("__n") >= k)
      .select(col("__id"), col("__n"),
        explode(transform(sequence(lit(0), col("__n") - k), i =>
          struct(i.as("start"),
            // 16-byte BINARY hash, not the 32-char hex string: h is
            // equality-only and internal (never in the output), and
            // unhex is injective on md5 hex — same duplicate sets for
            // half the cached/shuffled hash bytes (guide §2.3 narrower
            // types)
            unhex(md5(concat_ws(" ", slice(col("__t"), i + 1, lit(k))))).as("h")))).as("s"))
      .select(col("__id"), col("__n"),
        col("s.start").as("start"), col("s.h").as("h"))
    // the explode feeds BOTH the dup count and the join below and is
    // RECOMPUTED for each (two parallel tokenize+hash passes), not cached:
    // this is the op's widest relation (~24 bytes/window ≈ several × the
    // corpus text), so at 100 TB a MEMORY_AND_DISK cache means writing and
    // re-reading it through the block store (spill regime) where the
    // recompute is one extra linear map-side pass over already-read text
    // (guide §5: cache only when recompute costs more than the memory
    // pressure). Measured at sf0.1 (ProfileMain 6c/6c2): no-cache 1.09 s
    // vs cached 1.17–1.31 s — not slower even where the cache fits.
    val dup = spans.groupBy("h")
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).select("h")
    val w = Window.partitionBy("__id").orderBy("start")
      .rowsBetween(Window.unboundedPreceding, -1)
    spans.join(dup, "h")
      .withColumn("__prevEnd", max(col("start") + k).over(w))
      .withColumn("__cov", greatest(lit(0),
        col("start") + k - greatest(col("start"), coalesce(col("__prevEnd"), lit(0)))))
      .groupBy(col("__id"), col("__n"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("__cov")).as("dup_tokens"))
      .select(col("__id").as(idCol), col("n_dup_spans"), col("dup_tokens"),
        col("__n").cast("long").as("n_tokens"),
        round(col("dup_tokens") / col("__n"), 6).as("dup_fraction"))
  }

  /** N-gram (shingle) Jaccard similarity column between two token-set
    * columns (for candidate confirmation or ad-hoc pair scoring). Inputs
    * must be sorted distinct arrays — which [[tokenSet]] and
    * [[charNgrams]] produce — so the intersection counts by merge
    * without materializing it. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.ArrayExpressions.sorted_intersect_size(a, b)
    // two EMPTY sets: identical by convention (1.0) — the raw division
    // is 0/0, a DIVIDE_BY_ZERO error under ANSI mode
    when(size(a) + size(b) === 0, lit(1.0))
      .otherwise(inter / (size(a) + size(b) - inter))
  }

  /** Character n-gram set (shingling for texts without token structure):
    * all n-char substrings, deduped — the Jaccard basis when whitespace
    * tokenization doesn't apply (CJK, code). Empty below n chars, the
    * same boundary contract as [[wordNgrams]] (the old `greatest(...,1)`
    * form emitted one SHORTER-than-n substring, so two 2-char texts
    * scored Jaccard 1.0 on a fake "trigram" — and disagreed with the
    * DuckDB oracle's range() which is already empty there). */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_sort(array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word n-grams (token windows joined by a single space) —
    * empty for texts shorter than n tokens. The overlap unit for
    * decontamination. */
  def wordNgrams(text: Column, n: Int): Column = {
    val t = toks(text)
    // guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) instead of being
    // empty, so short texts must short-circuit explicitly
    when(size(t) >= n,
      array_distinct(transform(
        sequence(lit(1), size(t) - (n - 1)),
        i => array_join(slice(t, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Decontamination — the test-set-overlap sweep every training corpus
    * needs: corpus docs sharing at least one word n-gram with any
    * benchmark doc, with the count of distinct shared grams as evidence.
    *
    * Scale shape: the benchmark side is collapsed to its DISTINCT gram set
    * (benchmarks are small — it broadcasts), the corpus explode is
    * map-side, and the broadcast semi-join means corpus rows never
    * shuffle; the only exchange is the per-doc count rollup. Returns
    * (id, n_shared). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    val benchGrams = benchmark
      .select(explode(wordNgrams(col(textCol), n)).as("__g")).distinct()
    // per-doc grams are distinct BEFORE the explode (wordNgrams emits an
    // array_distinct'd array — no second array_distinct on top), so the
    // rollup is a plain count — count_distinct would re-dedupe rows that
    // are already unique per (doc, gram), paying the distinct-aggregate
    // machinery on the op's widest relation for nothing
    corpus.select(col(idCol),
        explode(wordNgrams(col(textCol), n)).as("__g"))
      .join(broadcast(benchGrams), "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise matches into dedup CLUSTERS: every implicated id is mapped
    * to its cluster representative, the smallest id reachable through any
    * chain of pairs (so "keep one per cluster" is `component = id`, and
    * "drop the rest" is an equality filter, not another join).
    *
    * Iterative min-label propagation: each pass is one keyed aggregation
    * over the symmetrized edge list (shuffles keyed on the id — never a
    * cross product), converging in O(component diameter) passes. Dup
    * clusters are near-cliques (diameter 2-3 in practice), so a handful of
    * passes closes even web-scale corpora; each pass eagerly
    * localCheckpoints so the plan stays flat at any iteration count. The
    * per-pass driver action reads one count — no data is collected.
    *
    * Returns (id, component). Ids absent from `edges` are their own
    * (singleton) components and are not emitted — join back to the corpus
    * with a coalesce for the total mapping.
    *
    * Two regimes, chosen by the MEASURED size of the materialized edge
    * list (one count over checkpointed blocks, no extra computation):
    *  - small (≤ localEdgeThreshold directed edges): union-find on the
    *    driver. After LSH has collapsed a corpus to its near-dup pairs the
    *    graph is usually tiny relative to the corpus, and a driver solve
    *    is milliseconds where each distributed pass costs a fixed several
    *    hundred ms of scheduling — the same endgame GraphFrames-style CC
    *    uses once contraction shrinks the graph.
    *  - large: iterative min-label propagation, one keyed aggregation per
    *    pass (shuffles keyed on the id — never a cross product),
    *    converging in O(component diameter) passes. This is the 100 TB
    *    path: nothing is ever collected, and the default threshold
    *    (1M edges ≈ tens of MB) keeps the driver far from pressure. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val spark = edges.sparkSession
    // materialize the DIRECTED edge list once, then symmetrize by reading
    // the checkpointed blocks twice — the upstream pair-generation DAG
    // (often a whole LSH candidate plan) is executed exactly ONCE. The
    // old form checkpointed `edges ∪ edges.swap`, whose two union
    // branches each re-ran the full pair plan before the checkpoint
    // (measured: dedup_components paid the LSH pipeline twice). `sym`
    // itself stays un-checkpointed: every CC pass scans the in-memory
    // blocks through the cheap union+project, and the per-pass labels are
    // checkpointed below, so the plan still stays flat at any iteration
    // count. No distinct: min-propagation is duplicate-tolerant, so
    // deduping the edge list would buy nothing for a whole extra shuffle
    // of the op's biggest relation.
    val ab = edges.select(col(aCol).as("__src"), col(bCol).as("__dst"))
      .localCheckpoint()
    val sym = ab.union(
      ab.select(col("__dst").as("__src"), col("__src").as("__dst")))
    def releaseSym(): Unit = releaseLocalCheckpoint(ab)
    if (ab.count() * 2 <= localEdgeThreshold) {
      val out = localComponents(spark, sym)
      releaseSym()
      return out
    }
    // pass 1 folded into initialization: against identity starting labels
    // the first propagation's label join is the identity mapping, so the
    // post-pass-1 labels are just least(own id, min neighbour id) — one
    // aggregation instead of a join + aggregation + convergence job
    var labels = sym.groupBy(col("__src"))
      .agg(min(col("__dst")).as("__m"))
      .select(col("__src").as("id"), least(col("__m"), col("__src")).as("component"))
      .localCheckpoint()
    var converged = false
    var iter = 1
    while (!converged && iter < maxIter) {
      // min label among neighbours; every id occurs as __src in sym.
      // (Measured: batching two hops per checkpoint does NOT help — the
      // deeper per-pass DAG costs what the saved materializations gain.)
      val prop = sym
        .join(labels.select(col("id").as("__dst"), col("component").as("__cl")),
          "__dst")
        .groupBy(col("__src"))
        .agg(min(col("__cl")).as("__nbrMin"))
      val stepped = labels
        .join(prop, col("id") === col("__src"))
        .select(col("id"),
          least(col("component"), col("__nbrMin")).as("component"),
          col("component").as("__old"))
      // pointer jump (path doubling): component := component's component.
      // Labels stay reachable-node upper bounds, so this only accelerates
      // — a d-hop chain converges in O(log d) passes, not O(d). Every
      // label value is itself a node (it started as some id), so the
      // self-join always finds a row; left+coalesce guards regardless.
      val jumped = stepped.as("x")
        .join(stepped.select(col("id").as("__cid"), col("component").as("__cc")).as("y"),
          col("x.component") === col("__cid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("__cc"), col("x.component")).as("component"),
          col("__old"))
      // change detection rides the checkpoint materialization itself (an
      // accumulator counted while rows stream into the block store) — no
      // separate convergence job per pass. Task retries can only re-add
      // for rows that genuinely changed, so zero stays exact. Zero changes
      // means the PROPAGATION step was already at fixpoint, which is the
      // standard correctness certificate for min-label CC.
      val changes = spark.sparkContext.longAccumulator(s"ccChanges$iter")
      val outEnc = org.apache.spark.sql.Encoders.row(
        org.apache.spark.sql.types.StructType(jumped.schema.take(2)))
      val next = jumped
        .mapPartitions { it =>
          it.map { r =>
            if (r.get(1) != r.get(2)) changes.add(1L)
            org.apache.spark.sql.Row(r.get(0), r.get(1))
          }
        }(outEnc)
        .localCheckpoint()
      // pass N's checkpoint is materialized (localCheckpoint is eager) —
      // pass N−1's blocks are now unreachable by any future plan; release
      // them instead of squatting block-manager storage for the session
      // (real memory pressure in a long-lived job; round-7 verdict #2)
      releaseLocalCheckpoint(labels)
      converged = changes.value == 0L
      labels = next
      iter += 1
    }
    releaseSym()
    // an unconverged result is silently WRONG (labels mid-descent) —
    // refuse to return it
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: no convergence in $maxIter passes")
    // the final labels stay materialized for the caller's action; its
    // blocks are released with the operator caches once consumed
    OperatorCaches.registerRelease(() => releaseLocalCheckpoint(labels))
    labels
  }

  /** See [[OperatorCaches.releaseLocalCheckpoint]] (shared helper). */
  private def releaseLocalCheckpoint(ds: DataFrame): Unit =
    OperatorCaches.releaseLocalCheckpoint(ds)

  /** Driver-side union-find endgame for a small (already materialized,
    * symmetrized) edge list: path-compressed find, then the component
    * representative is re-derived as the MIN member under the same
    * ordering Spark's `least`/`min` would use — for STRINGS that is
    * UTF8String's unsigned byte order, NOT `String.compareTo` (UTF-16
    * code units invert supplementary code points against [U+E000,
    * U+FFFF]); a divergence would have the ≤1M-edge and distributed
    * regimes keep DIFFERENT representative documents for the same
    * cluster. Output schema matches the distributed path: (id,
    * component) with the edge columns' type. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
      sym: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    sym.collect().foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(ra, rb)
    }
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) =>
        graft.consolidation.Consolidation.utf8Compare(a, b) < 0
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val minOf = new java.util.HashMap[Any, Any]()
    parent.keySet().forEach { x =>
      val r = find(x)
      val m = minOf.get(r)
      if (m == null || lt(x, m)) minOf.put(r, x)
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach { x =>
      out.add(org.apache.spark.sql.Row(x, minOf.get(find(x))))
    }
    val dt = sym.schema.head.dataType
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt),
      org.apache.spark.sql.types.StructField("component", dt))))
  }
}
