package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication operators for LLM-data pipelines.
  *
  * Design rules for 100 TB: never materialize n² pairs — candidates come
  * from equi-joins on hash buckets (LSH bands, simhash prefixes, shared
  * shingles); every bucket join caps bucket size to bound worst-case
  * blow-up; md5 is the only hash (engine-portable, so every stage is
  * oracle-checkable).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id. Returns
    * (idCol, md5 hash, group size) for survivors. Map-side partial agg;
    * one shuffle on the hash.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Word n-gram shingles (space-joined), lowercased, distinct —
    * native window builder ([[graft.functions.WordNgramsExpr]]) for
    * the full-window branch; fewer tokens than `n` → the whole text
    * as one shingle. */
  def shingles(text: Column, n: Int): Column =
    graft.ColumnOps.let(TextAnalysis.tokens(text)) { toks =>
      array_distinct(
        when(
          size(toks) < n,
          array(concat_ws(" ", toks))
        ).otherwise(
          call_function("graft_word_ngrams", toks, lit(n), lit(1), lit(0))
        )
      )
    }

  /** HOF spec twin of [[shingles]] (interpreted per-window
    * slice+concat — bit-equality tested; don't use it in anything
    * measured). Tokens are let-bound: the tokenizer runs once per
    * row, not once per shingle (no CSE inside HOF lambdas). */
  def shinglesHof(text: Column, n: Int): Column =
    graft.ColumnOps.let(TextAnalysis.tokens(text)) { toks =>
      array_distinct(
        when(
          size(toks) < n,
          array(concat_ws(" ", toks))
        ).otherwise(
          transform(
            sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n)))
          )
        )
      )
    }

  /** MinHash permutation constants: multipliers < 2^30 so h*A stays in
    * long range (h < 2^32), modulus a prime > 2^32. Engine-portable:
    * exact 64-bit integer arithmetic in both Spark and DuckDB. */
  val MinhashP: Long = 4294967311L
  val MinhashA: Seq[Long] = Seq(
    1000000007L, 998244353L, 754974721L, 469762049L, 167772161L, 104857601L,
    1004535809L, 595591169L, 645922817L, 897581057L, 880803841L, 163577857L,
    377487361L, 209715201L, 735410177L, 935329793L)
  def minhashB(j: Int): Long = 97L * j + 13L

  /** MinHash signature as `numPerm` longs: each shingle is md5-hashed
    * ONCE (first 8 hex chars → uint32), then each permutation is a
    * cheap affine map h → (h*A_j + B_j) mod P, min over shingles.
    * Native one-pass fold ([[graft.functions.MinhashExpr]]) — one md5
    * per shingle (not per shingle×perm); the md5 is the cost center
    * at scale.
    */
  def minhash(shingleCol: Column, numPerm: Int): Column = {
    require(numPerm <= MinhashA.length, s"at most ${MinhashA.length} permutations")
    // null-input parity with the HOF twin: its let-binding evaluates
    // the body on a null-bound lambda var, yielding an ALL-NULL
    // signature (not null) — and that IS observable downstream (band
    // keys concat_ws null slots to "", so null-text docs still bucket
    // together; the estimator's zip_with sees the signature array).
    // A plain when (NOT ColumnOps.let): let's single-element transform
    // is CodegenFallback and measured a ~1.5× tax on every minhash
    // query; here both branches stay codegen'd and WSCG subexpression
    // elimination dedupes the repeated shingle subtree.
    when(shingleCol.isNull, array((0 until numPerm).map(_ => lit(null).cast("long")): _*))
      .otherwise(call_function("graft_minhash", shingleCol, lit(numPerm)))
  }

  /** HOF spec twin of [[minhash]] (one interpreted md5-hex transform
    * + numPerm array_min passes — bit-equality tested; don't use it
    * in anything measured). */
  def minhashHof(shingleCol: Column, numPerm: Int): Column = {
    require(numPerm <= MinhashA.length, s"at most ${MinhashA.length} permutations")
    graft.ColumnOps.let(
      transform(shingleCol, s => conv(substring(md5(s), 1, 8), 16, 10).cast("long"))
    ) { hs =>
      array((0 until numPerm).map { j =>
        array_min(transform(hs, h => (h * MinhashA(j) + minhashB(j)) % MinhashP))
      }: _*)
    }
  }

  /** LSH candidate pairs: band the signature (`rowsPerBand` hashes per
    * band), bucket-join on (band index, band key), keep a<b pairs.
    * No n² anywhere: cost is sum over buckets of |bucket|².
    *
    * Over-cap buckets (`maxBucket`) are NOT dropped: their members are
    * RE-SPLIT on an extended key — the band key plus the next
    * `rowsPerBand` signature slots (mod numPerm) — in a shifted band
    * namespace, so documents colliding on a degenerate band key still
    * dedup against the sub-bucket that agrees with them on more of
    * the signature. Sub-buckets still over the cap after the split
    * are degenerate beyond rescue (near-identical signature mass) and
    * drop; `resplit = false` restores the plain drop guard.
    *
    * `maxBucket <= 0` (the default) derives the cap ADAPTIVELY as
    * max(64, ⌊√N⌋), N = corpus row count, folded in as a broadcast
    * 1-row aggregate (the txt_tfidf pattern — no blocking driver-side
    * count). √N bounds the band join's worst case at Σ|bucket|² ≤
    * N·cap = N^1.5 and grows the cap as real duplicate mass grows, so
    * ONE config survives a 100× scale-up — where any fixed constant
    * is either too hot at 100× or drops real duplicates at 1×. The
    * cap intentionally derives from corpus SIZE, not the bucket-count
    * distribution: bucket stats only exist after banding, and a
    * stats-then-filter pass over them would either re-run the
    * md5-per-shingle signature scan (the operator's one-scan contract
    * exists because that is the 100 TB cost center) or block the
    * plan; the re-split path is what reacts to the OBSERVED bucket
    * distribution. Integer-exact (floor of a correctly-rounded IEEE
    * sqrt of an exact long), so the DuckDB oracle replicates it.
    *
    * Bucket sizes are counted with a window OVER THE SAME (band, key)
    * shuffle the bucket join needs anyway (the agg-then-join-back
    * alternative would shuffle the banded rows twice); combined with
    * band structs unrolled at plan-build time this keeps the whole
    * operator at ONE scan of `df` — the md5-per-shingle signature is
    * never recomputed (ReuseExchange dedups the shared shuffle).
    *
    * `withSigs = true` carries the minhash signature of both sides
    * onto the output pairs (`sig_a`, `sig_b`) so downstream
    * estimators ([[minhashEstPairs]]) need no join-back against a
    * recomputed signature table.
    */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      maxBucket: Int = 0,
      withSigs: Boolean = false,
      resplit: Boolean = true
  ): DataFrame = {
    val b2 = lshSurvivingBanded(df, idCol, textCol, shingleSize, numPerm,
      rowsPerBand, maxBucket, withSigs, resplit)
    val joined = b2.as("a")
      .join(b2.as("b"), col("a.band") === col("b.band") && col("a.key") === col("b.key") && col("a.doc") < col("b.doc"))
    val outCols = Seq(col("a.doc").as("doc_a"), col("b.doc").as("doc_b")) ++
      (if (withSigs) Seq(col("a.sig").as("sig_a"), col("b.sig").as("sig_b")) else Nil)
    joined.select(outCols: _*).distinct()
  }

  /** (doc, sig) minhash signature table — staged projections: shingles
    * and signature each materialize once per row as bound attributes
    * (not re-inlined into downstream HOFs). */
  private[dedup] def sigTable(df: DataFrame, idCol: String, textCol: String,
                              shingleSize: Int, numPerm: Int): DataFrame =
    df.select(col(idCol).as("doc"), shingles(col(textCol), shingleSize).as("sh"))
      .select(col("doc"), minhash(col("sh"), numPerm).as("sig"))

  /** Banded rows (doc, [sig], band, key, [key_ext]) for a signature
    * table. Band structs unroll at plan-build time: the band index,
    * band key, and re-split key are literal-indexed projections (no
    * dynamic element_at). key_ext (the re-split key) is only built —
    * and only rides the explode and the (band, key) shuffle — when
    * resplit is on; the plain drop-guard path pays nothing for it. */
  private[dedup] def bandedRows(sigs: DataFrame, numPerm: Int, rowsPerBand: Int,
                                withSigs: Boolean, resplit: Boolean): DataFrame = {
    val numBands = numPerm / rowsPerBand
    val bandCols = (0 until numBands).map { b =>
      def slot(i: Int) = element_at(col("sig"), i % numPerm + 1).cast("string")
      val key = concat_ws("_", (0 until rowsPerBand).map(r => slot(b * rowsPerBand + r)): _*)
      val ext = (0 until rowsPerBand).map(r => slot((b + 1) * rowsPerBand + r))
      val fields = Seq(lit(b).as("band"), key.as("key")) ++
        (if (resplit) Seq(concat_ws("_", key +: ext: _*).as("key_ext")) else Nil)
      struct(fields: _*)
    }
    // sig rides the band shuffle only when the caller wants it on the
    // output — the pairs-only path ships (doc, band, key) alone
    val sigCols = if (withSigs) Seq(col("sig")) else Nil
    val extCols = if (resplit) Seq(col("bk.key_ext").as("key_ext")) else Nil
    sigs
      .select(col("doc") +: sigCols :+ explode(array(bandCols: _*)).as("bk"): _*)
      .select((col("doc") +: sigCols :+ col("bk.band").as("band") :+ col("bk.key").as("key")) ++ extCols: _*)
  }

  /** The cap-surviving banded rows (doc, [sig], band, key): cold
    * buckets pass, hot buckets re-key on key_ext in the shifted band
    * namespace (band + numBands), still-hot sub-buckets drop — the
    * re-split semantics of [[lshCandidatePairs]], shared with the
    * persisted [[LshIndex]] so index probes see the exact same
    * surviving-bucket universe. Bucket sizes are counted with a window
    * over the same (band, key) shuffle downstream joins need anyway.
    */
  private[dedup] def lshSurvivingBanded(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numPerm: Int, rowsPerBand: Int,
      maxBucket: Int, withSigs: Boolean, resplit: Boolean): DataFrame = {
    val numBands = numPerm / rowsPerBand
    val adaptive = maxBucket <= 0
    val capCol: Column =
      if (adaptive) greatest(lit(64L), floor(sqrt(col("_nd"))).cast("long"))
      else lit(maxBucket.toLong)
    val sigs = sigTable(df, idCol, textCol, shingleSize, numPerm)
    val banded0 = bandedRows(sigs, numPerm, rowsPerBand, withSigs, resplit)
    // adaptive cap input: corpus row count as a broadcast 1-row agg
    val banded =
      if (adaptive) banded0.crossJoin(broadcast(df.agg(count(lit(1)).as("_nd"))))
      else banded0
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "key")
    val counted = banded.withColumn("_n", count(lit(1)).over(w))
    val sigCols = if (withSigs) Seq(col("sig")) else Nil
    val keep = (col("doc") +: sigCols) :+ col("band") :+ col("key")
    val bOk = counted.filter(col("_n") <= capCol).select(keep: _*)
    if (!resplit) bOk
    else {
      val ndCols = if (adaptive) Seq(col("_nd")) else Nil
      val bHot = counted.filter(col("_n") > capCol)
        .select(col("doc") +: sigCols :+ (col("band") + numBands).as("band") :+
          col("key_ext").as("key") :++ ndCols: _*)
      val bHotOk = bHot.withColumn("_n", count(lit(1)).over(w))
        .filter(col("_n") <= capCol).select(keep: _*)
      bOk.unionByName(bHotOk)
    }
  }

  /** [[lshSurvivingBanded]] from a PREBUILT signature table with an
    * explicit cap value — the persisted-index shape ([[LshIndex]]):
    * signatures are the expensive stage (shingle→md5→minhash), so
    * maintenance jobs re-band stored sigs instead of re-hashing text.
    *
    * `numGroups > 0` attaches `grp = pmod(hash(band, key), numGroups)`
    * computed on the PLAIN bucket identity and carried onto re-split
    * rows too — every output row derived from a plain bucket lands in
    * that bucket's group, so an incremental append can recompute and
    * overwrite EXACTLY the groups its new docs touch
    * (`groupFilter`), leaving every other partition's files alone.
    * The filter selects whole buckets (grp is a function of (band,
    * key)), so the in-group survival counts are exact.
    */
  private[dedup] def survivingBandedFixedCap(
      sigs: DataFrame, numPerm: Int, rowsPerBand: Int, capValue: Long,
      resplit: Boolean, numGroups: Int = 0,
      groupFilter: Option[Seq[Int]] = None): DataFrame = {
    val numBands = numPerm / rowsPerBand
    val banded0 = bandedRows(sigs, numPerm, rowsPerBand, withSigs = false, resplit)
    val grouped =
      if (numGroups > 0)
        banded0.withColumn("grp", pmod(hash(col("band"), col("key")), lit(numGroups)))
      else banded0
    val filtered = groupFilter match {
      case Some(gs) => grouped.filter(col("grp").isin(gs.map(Int.box): _*))
      case None => grouped
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "key")
    val counted = filtered.withColumn("_n", count(lit(1)).over(w))
    val grpCols = if (numGroups > 0) Seq(col("grp")) else Nil
    val keep = (col("doc") +: grpCols) :+ col("band") :+ col("key")
    val bOk = counted.filter(col("_n") <= capValue).select(keep: _*)
    if (!resplit) bOk
    else {
      val bHot = counted.filter(col("_n") > capValue)
        .select(col("doc") +: grpCols :+ (col("band") + numBands).as("band") :+
          col("key_ext").as("key"): _*)
      val bHotOk = bHot.withColumn("_n", count(lit(1)).over(w))
        .filter(col("_n") <= capValue).select(keep: _*)
      bOk.unionByName(bHotOk)
    }
  }

  /** Training-corpus DECONTAMINATION against an evaluation set (the
    * GPT-3/PaLM-style n-gram overlap rule): drop every training doc
    * that shares at least one word `n`-gram with any eval doc, so
    * benchmark answers can't leak into training data. Returns the
    * CLEAN training rows.
    *
    * Shape: eval shingles reduce to a DISTINCT n-gram set first (eval
    * sets are benchmark-sized — thousands of docs — so the distinct
    * set broadcasts by default; the train side, the 100 TB side, is
    * touched once: explode → semi-join → distinct doc ids → anti-join
    * back). `broadcastEval = true` (default) FORCES the broadcast —
    * the eval gram set must then fit executor memory; pass `false`
    * for an outsized eval set and the semi-join runs as a shuffle on
    * the n-gram key instead — still never all-pairs. Short docs
    * (< n tokens) shingle to their whole text, so they are matched on
    * full-text equality — strictly conservative.
    */
  def decontaminate(train: DataFrame, trainId: String, trainText: String,
                    eval: DataFrame, evalText: String, n: Int = 8,
                    broadcastEval: Boolean = true): DataFrame = {
    // grams meet on the 60-bit [[shingleKey]], never the raw n-word
    // string: the broadcast set is 8 bytes/gram (~6× smaller than
    // 8-gram text — the lever on how big an eval suite still
    // broadcasts), and the probe compares longs. Oracle-mirrored.
    val evalGrams0 = eval
      .select(explode(shingles(col(evalText), n)).as("_g0"))
      .select(shingleKey(col("_g0")).as("_gram")).distinct()
    val evalGrams = if (broadcastEval) broadcast(evalGrams0) else evalGrams0
    val contaminated = train
      .select(col(trainId), explode(shingles(col(trainText), n)).as("_g0"))
      .select(col(trainId), shingleKey(col("_g0")).as("_gram"))
      .join(evalGrams, "_gram")
      .select(trainId).distinct()
    train.join(contaminated, Seq(trainId), "left_anti")
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns candidate PAIRS into dedup CLUSTERS (keep one doc per
    * component). Output: (idCol, component) — component = min id in
    * the component, in the nodes' id type; singletons map to
    * themselves.
    *
    * CONTRACT: every edge endpoint must be an id present in `nodes`
    * (true of every caller — pairs are generated FROM the node set).
    * A phantom endpoint still joins its neighbors' component and can
    * be its minimum label.
    *
    * DRIVER FAST PATH (optimization round 18): when the materialized
    * edge list fits `maxDriverEdges` (probed with a LIMIT collect off
    * the checkpoint — one cheap job, never a full-count pass) and the
    * id type is integral, the transitive closure runs as an in-memory
    * union-find and the component table re-attaches by one broadcast
    * join — no rounds of shuffle jobs. Near-dup edge sets are small
    * relative to their corpus by construction (they are the output of
    * banded/celled candidate generation). `maxDriverEdges = 0`
    * disables the fast path.
    *
    * DISTRIBUTED PATH (edge lists over the cap, non-integral ids):
    * alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014), which converges
    * in O(log n) rounds on ANY graph shape — a transitive near-dup
    * chain included, where min-label propagation needs O(diameter).
    * large-star hangs every strictly-larger neighbor of a node off
    * the minimum of its closed neighborhood (halves tall trees);
    * small-star re-parents the rest. Both are one groupBy shuffle
    * over the edge list of EDGE-TOUCHED nodes only (an untouched node
    * is its own component and re-attaches once at the end); rounds
    * alternate until the edge set is a fixpoint (a star forest around
    * each component's minimum), with lineage truncated per round by
    * localCheckpoint. Not converging within `maxIter` rounds throws:
    * the labels would be wrong.
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 30,
                          maxDriverEdges: Long = 1L << 20): DataFrame = {
    // id type follows the NODES side (as it did when labels seeded
    // from `nodes`): an edge list with narrower endpoint columns must
    // not narrow the output `component` column
    val idType = nodes.schema(nodes.columns.indexOf(idCol)).dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    val probes = maxDriverEdges > 0 && integral && maxDriverEdges <= (Int.MaxValue / 2 - 1)
    val sym0 = edges.select(col(aCol).cast(idType).as("src"), col(bCol).cast(idType).as("dst"))
      .union(edges.select(col(bCol).cast(idType).as("src"), col(aCol).cast(idType).as("dst")))
    // only the driver probe reads `sym` twice (its LIMIT collect, then
    // the star path on overflow); the star path checkpoints its own
    // edge set, so without the probe a checkpoint here is a wasted job
    val sym = if (probes) sym0.localCheckpoint() else sym0
    // (node, label) rows re-attach to every node; untouched nodes keep
    // their own id
    def labelNodes(labels: DataFrame): DataFrame =
      nodes.select(col(idCol).as("_cc_n")).distinct()
        .join(labels, col("_cc_n") === col("node"), "left")
        .select(col("_cc_n").as(idCol),
          coalesce(col("label"), col("_cc_n")).as("component"))
    if (probes) {
      val cap = (2 * maxDriverEdges + 1).toInt // sym carries each edge twice
      val probe = sym.limit(cap).collect()
      if (probe.length < cap) {
        def asLong(r: org.apache.spark.sql.Row, i: Int): Long =
          if (idType == org.apache.spark.sql.types.LongType) r.getLong(i) else r.getInt(i).toLong
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var r = x0
          while (parent.getOrDefault(r, r) != r) r = parent.get(r)
          var x = x0 // path compression
          while (parent.getOrDefault(x, x) != r) { val nx = parent.get(x); parent.put(x, r); x = nx }
          r
        }
        probe.foreach { e =>
          val (ra, rb) = (find(asLong(e, 0)), find(asLong(e, 1)))
          if (ra != rb) { // union by min keeps find() roots = running minima
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        // min-union above makes every root the component minimum
        val lab = new java.util.HashMap[Long, Long]()
        probe.foreach { e =>
          val a = asLong(e, 0); lab.put(a, find(a)) // sym covers both endpoints as src
        }
        val spark = nodes.sparkSession
        val labSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.LongType, nullable = false)))
        val labRows = new java.util.ArrayList[org.apache.spark.sql.Row](lab.size)
        lab.forEach((k, v) => { labRows.add(org.apache.spark.sql.Row(k, v)); () })
        val labDf = spark.createDataFrame(labRows, labSchema)
          .select(col("node").cast(idType).as("node"), col("label").cast(idType).as("label"))
        return labelNodes(broadcast(labDf))
      }
      // over the cap: fall through to the distributed path (sym is
      // checkpointed, so the probe cost is one bounded re-read)
    }
    def dedup(e: DataFrame) = e.filter(col("u") =!= col("v")).distinct()
    // large-star: for each node n (symmetric neighborhood), attach
    // every neighbor v > n to m = min(closed neighborhood of n)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
      dedup(sym.filter(col("v") > col("u")).join(m, "u")
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star: orient edges child>parent, re-parent each child's
    // smaller neighbors (and itself) onto the minimum parent
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val m = dir.groupBy("u").agg(min("v").as("m"))
      dedup(dir.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v"))))
    }
    var e = sym.filter(col("src") < col("dst")).select(col("src").as("u"), col("dst").as("v"))
      .distinct().localCheckpoint()
    // an empty edge set is converged by construction (every node is a
    // singleton); entering the loop would just burn one no-op round
    var converged = e.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      // fixpoint = same edge SET (both frames are distinct'd), checked
      // in ONE action: signed-count the union — an edge in exactly one
      // of the two sets keeps a nonzero sum
      converged = next.select(col("u"), col("v"), lit(1).as("_w"))
        .unionAll(e.select(col("u"), col("v"), lit(-1).as("_w")))
        .groupBy("u", "v").agg(sum("_w").as("_w"))
        .filter(col("_w") =!= 0)
        .isEmpty
      e = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; labels would be wrong")
    // star forest → every touched node's label is its component's root
    val forest = e.union(e.select(col("v").as("u"), col("u").as("v")))
    labelNodes(forest.groupBy("u").agg(min("v").as("_mn"))
      .select(col("u").as("node"), least(col("u"), col("_mn")).as("label")))
  }

  /** MinHash Jaccard ESTIMATES for the LSH candidate pairs: the
    * classic estimator — the fraction of the `numPerm` signature
    * slots on which the two documents agree. Candidates come from
    * [[lshCandidatePairs]] with `withSigs = true`, so both sides'
    * signatures are already ON the pair rows — no join-back, and the
    * shingle→md5→minhash pipeline runs exactly once (it is the cost
    * center at 100 TB). The estimate is a zip_with over the carried
    * arrays. Output: (doc_a, doc_b, est_jaccard_fp4).
    */
  def minhashEstPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numPerm: Int = 8,
                      rowsPerBand: Int = 2, maxBucket: Int = 0): DataFrame =
    lshCandidatePairs(df, idCol, textCol, shingleSize, numPerm, rowsPerBand, maxBucket,
        withSigs = true)
      .withColumn("est_jaccard_fp4", TextAnalysis.fp(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / lit(numPerm.toDouble), 4))
      .select("doc_a", "doc_b", "est_jaccard_fp4")

  /** B-BIT minwise hashing (Li & König 2010): store only the lowest
    * `b` bits of each minhash slot — the signature shrinks 64/b×
    * (b=2 keeps a 16-perm signature in 4 bytes), which is what makes
    * corpus-scale signature TABLES (not just pair estimates) fit in
    * memory/shuffle at 100 TB. Truncation inflates agreement by
    * chance collisions: P(slot match) = C + (1−C)·J with C = 2^−b,
    * so the unbiased estimate is Ĵ = (Â − C)/(1 − C), clamped at 0.
    * Emitted per LSH candidate pair alongside the full-width
    * estimator so the truncation cost is directly observable.
    * Signatures ride the pair rows from [[lshCandidatePairs]]
    * (`withSigs`) — the shingle→md5→minhash scan still runs once.
    * Output: (doc_a, doc_b, agree_b2_fp4, est_b2_fp4, est_full_fp4).
    */
  def bbitMinhashEstPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int = 3, numPerm: Int = 8,
                          rowsPerBand: Int = 2, bBits: Int = 2): DataFrame = {
    val m = 1L << bBits
    val c = 1.0 / m
    // pmod, not %: the minhash affine map keeps slots non-negative
    // today, but a signed signature source would make Spark's `%`
    // (sign-of-dividend remainder) diverge from the oracle's
    // non-negative bucket; pmod is total-order-safe either way.
    val nAgree = (suffix: String) => size(filter(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => if (suffix == "b") pmod(x, lit(m)) === pmod(y, lit(m)) else x === y),
      p => p))
    lshCandidatePairs(df, idCol, textCol, shingleSize, numPerm, rowsPerBand,
        maxBucket = 0, withSigs = true)
      .withColumn("ab", nAgree("b").cast("double") / lit(numPerm.toDouble))
      .select(col("doc_a"), col("doc_b"),
        TextAnalysis.fp(col("ab"), 4).as("agree_b2_fp4"),
        TextAnalysis.fp(greatest(lit(0.0), (col("ab") - lit(c)) / lit(1.0 - c)), 4)
          .as("est_b2_fp4"),
        TextAnalysis.fp(nAgree("full").cast("double") / lit(numPerm.toDouble), 4)
          .as("est_full_fp4"))
  }

  /** 32-bit SimHash via the native codegen'd expression (one pass, one
    * md5 per distinct token). Bit-identical to [[simhash32]], which is
    * retained as its interpreted spec twin (32 HOF folds — ~20×
    * slower; don't use it in anything measured). */
  def simhash32Native(text: Column): Column =
    call_function("graft_simhash32", array_distinct(TextAnalysis.tokens(text)))

  /** 32-bit SimHash from md5 nibbles: each token hashes to 32 bits (8
    * hex chars of md5); bit b of the signature is 1 when the sum of
    * (2*bit-1) over tokens is positive. Integer-exact, portable.
    * HOF spec twin of [[simhash32Native]].
    */
  def simhash32(text: Column): Column =
    // hash each distinct token ONCE; the 32 bit-folds then read nibbles
    // from the bound hash array (one md5 per token, not 32)
    graft.ColumnOps.let(
      transform(array_distinct(TextAnalysis.tokens(text)), t => md5(t))
    ) { hashes =>
      // bits unrolled at plan-build time (Scala loop) so shift amounts
      // are literal ints — no dynamic-shift expression
      val bitContribs = (0 until 32).map { b =>
        val nibIdx = b / 4 + 1 // hex char holding bit b
        val sum = aggregate(
          hashes,
          lit(0L),
          (acc, h) => {
            val nib = TextHex.nibble(h.substr(lit(nibIdx), lit(1)))
            acc + when(shiftright(nib, b % 4).bitwiseAND(1) === 1, 1L).otherwise(-1L)
          }
        )
        when(sum > 0, lit(1L << b)).otherwise(lit(0L))
      }
      bitContribs.reduce(_ + _)
    }

  /** 64-bit SimHash via the native one-pass expression — the
    * corpus-scale signature: under maxHamming=3 pigeonhole banding it
    * yields 16-bit bands (65,536 buckets/band) where 32 bits yield
    * only 256. Bit layout extends [[simhash32Native]] to the first 16
    * md5 hex chars; [[simhash64]] is the interpreted HOF spec twin. */
  def simhash64Native(text: Column): Column =
    call_function("graft_simhash64", array_distinct(TextAnalysis.tokens(text)))

  /** 64-bit SimHash from md5 nibbles — HOF spec twin of
    * [[simhash64Native]] (64 folds; only for bit-equality tests).
    * Bits combine with bitwise OR (bit 63 is Long.MinValue — addition
    * would overflow under ANSI). */
  def simhash64(text: Column): Column =
    graft.ColumnOps.let(
      transform(array_distinct(TextAnalysis.tokens(text)), t => md5(t))
    ) { hashes =>
      val bitContribs = (0 until 64).map { b =>
        val nibIdx = b / 4 + 1 // hex char holding bit b
        val sum = aggregate(
          hashes,
          lit(0L),
          (acc, h) => {
            val nib = TextHex.nibble(h.substr(lit(nibIdx), lit(1)))
            acc + when(shiftright(nib, b % 4).bitwiseAND(1) === 1, 1L).otherwise(-1L)
          }
        )
        when(sum > 0, lit(1L << b)).otherwise(lit(0L))
      }
      bitContribs.reduce(_ bitwiseOR _)
    }

  /** Pigeonhole Hamming band join shared by the 32- and 64-bit pair
    * operators: any pair within `maxHamming` flips agrees exactly on
    * one of the `maxHamming + 1` bands. Bucket sizes are counted with
    * a window over the same (band, key) shuffle the self-join needs
    * (one scan of `sigs`; no agg-plus-join-back double shuffle).
    * `sigs` must have columns (doc, sig). `maxBucket <= 0` derives
    * the cap as max(64, ⌊√N⌋) like [[lshCandidatePairs]] — the count
    * branch prunes the signature expression, so it stays cheap. */
  private def hammingBandPairs(sigs: DataFrame, sigBits: Int,
                               maxHamming: Int, maxBucket: Long): DataFrame = {
    val adaptive = maxBucket <= 0
    val capCol: Column =
      if (adaptive) greatest(lit(64L), floor(sqrt(col("_nd"))).cast("long"))
      else lit(maxBucket)
    val bands = maxHamming + 1
    require(sigBits % bands == 0, s"maxHamming+1 = $bands must divide $sigBits")
    val bits = sigBits / bands
    // maxHamming = 0 gives bands = 1, bits = 64: `(1L << 64) - 1` is 0
    // under JVM mod-64 shifts and would collapse every key to one
    // giant (dropped) bucket — `-1L >>> (64 - bits)` is the full mask
    // there (exact-signature band equality, the right semantics)
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val bandCols = (0 until bands).map { b =>
      // mask after the arithmetic shift keeps the key sign-safe for
      // the 64-bit signature's negative longs
      struct(lit(b).as("band"), shiftright(col("sig"), b * bits).bitwiseAND(lit(mask)).as("key"))
    }
    val banded0 = sigs
      .select(col("doc"), col("sig"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
    val banded =
      if (adaptive) banded0.crossJoin(broadcast(sigs.select(col("doc")).agg(count(lit(1)).as("_nd"))))
      else banded0
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "key")
    val b2 = banded.withColumn("_n", count(lit(1)).over(w))
      .filter(col("_n") <= capCol).drop("_n", "_nd")
    b2.as("a")
      .join(b2.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr("cast(bit_count(sig_a ^ sig_b) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Banded Hamming-neighbor pairs over PRECOMPUTED signatures — the
    * [[simhashPairs64]] engine opened to any bit-signature source
    * (perceptual image hashes, audio fingerprints). `sigs` must have
    * columns (doc, sig); `maxHamming + 1` must divide `sigBits`.
    * Banding is LOSSLESS for hamming ≤ maxHamming (pigeonhole: a pair
    * within h flips must agree on ≥ 1 of h+1 bands) as long as no
    * bucket overflows `maxBucket` — pass a cap above the largest
    * expected bucket when exact pair recall is required (signature-
    * deduped inputs are tiny, so that's cheap there).
    * Output: (doc_a, doc_b, hamming). */
  def hammingPairs(sigs: DataFrame, sigBits: Int, maxHamming: Int,
                   maxBucket: Long = 0L): DataFrame =
    hammingBandPairs(sigs, sigBits, maxHamming, maxBucket)

  /** SimHash near-duplicate pairs within `maxHamming` bit flips over
    * the 32-bit signature. Bands unroll at plan-build time (literal
    * shifts); the bucket cap (adaptive by default, like
    * [[lshCandidatePairs]]) drops degenerate bands (e.g. all-empty docs
    * hashing to 0). NOTE at 100 TB: 32/4 = 8-bit bands give only 256
    * buckets per band — use [[simhashPairs64]] for real corpora.
    * Output: (doc_a, doc_b, hamming), hamming ≤ maxHamming.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Long = 0L): DataFrame =
    hammingBandPairs(
      df.select(col(idCol).as("doc"), simhash32Native(col(textCol)).as("sig")),
      32, maxHamming, maxBucket)

  /** [[simhashPairs]] over the 64-bit signature — 16-bit bands under
    * the default maxHamming=3, the shape that actually carries a real
    * corpus. Output: (doc_a, doc_b, hamming). */
  def simhashPairs64(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, maxBucket: Long = 0L): DataFrame =
    hammingBandPairs(
      df.select(col(idCol).as("doc"), simhash64Native(col(textCol)).as("sig")),
      64, maxHamming, maxBucket)

  /** 60-bit shingle join key: first 15 md5 hex chars as BIGINT. The
    * raw shingle string (n words, dozens of bytes) never rides an
    * exchange — the key is computed narrow pre-shuffle, so the
    * count-window sort and the sort-merge self-join compare 8-byte
    * longs instead of variable-length strings (~4× fewer shuffle
    * bytes at word-3-gram sizes). 60 bits keeps the value inside a
    * signed long; collisions (~n²/2^61) are deterministic and
    * oracle-mirrored, so cross-engine hashing is unaffected. Native
    * ([[graft.functions.Md5Long60Expr]]) — the composable
    * `conv(substring(md5, 1, 15), 16, 10)` twin pays a hex
    * materialization + radix parse per shingle. */
  private[graft] def shingleKey(sh: Column): Column =
    call_function("graft_md5_long60", sh)

  /** Composable twin of [[shingleKey]] (spec bit-equality only). */
  private[graft] def shingleKeyHof(sh: Column): Column =
    conv(substring(md5(sh), 1, 15), 16, 10).cast("long")

  /** PREFIX-FILTERED set-similarity join (Bayardo et al. AllPairs /
    * Xiao et al. PPJoin candidate generation — the OTHER classic
    * strategy next to [[ngramJaccardPairs]]'s shingle co-group):
    * order each doc's distinct shingle keys rarest-first (global df
    * asc, key asc) and keep only the PREFIX of length
    * n − ⌈t·n⌉ + 1 — two sets with Jaccard ≥ t MUST share a prefix
    * token (pigeonhole on the ⌈t·n⌉-sized suffixes), so the
    * candidate self-join runs over prefixes only and is provably
    * LOSSLESS (spec-asserted against brute all-pairs). Verification
    * joins the candidate ids back to the per-doc sorted key arrays
    * and intersects per row — candidate-bounded, O(|set|) each.
    * Scale: rarest-first prefixes are exactly the tokens with the
    * smallest df, so hot shingles (boilerplate) never generate
    * candidates — the frequent-shingle cap [[ngramJaccardPairs]]
    * needs is built into the ordering here. The exploded stream pays
    * exactly TWO exchanges: the df window on the shingle key, then
    * ONE doc-keyed aggregate that builds BOTH the record store
    * (sorted key array + size) and the rarest-first prefix source —
    * the prefix is a `slice` of the (df, key)-sorted array, so no
    * separate doc-keyed rank window re-shuffles the stream (that
    * third corpus exchange was ~30% of the operator's cost).
    * Output: (doc_a, doc_b, inter, union_, jaccard_fp4), J ≥ t. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame = {
    val ex = df
      .select(col(idCol).as("doc"), shingles(col(textCol), n).as("shs"))
      .select(col("doc"), explode(col("shs")).as("sh0"))
      .select(col("doc"), shingleKey(col("sh0")).as("s"))
    // global df per key via hash AGGREGATE + shuffled-hash join-back,
    // not a count window (optimization round 18): unlike
    // [[ngramJaccardPairs]] — where the count window's sort is reused
    // by the sort-merge self-join that follows on the same key — the
    // next operation here keys by DOC, so the window's corpus-wide
    // sort on `s` was paid and never reused. The aggregate
    // partial-aggregates map-side (the join-back side is distinct
    // grams, not occurrences), its exchange on `s` is the same
    // exchange the window needed (AQE reuses it), and the
    // shuffle_hash hint keeps the join-back sort-free. Same _df
    // values, bit-identical downstream.
    val dfTab = ex.groupBy("s").agg(count(lit(1)).as("_df"))
    // one checkpointed frame serves the record store AND the prefix
    // source; array_sort on (df, key) structs replicates the rank
    // window's rarest-first order exactly (same total order, no ties)
    // ONE collect_list per doc (optimization round 18): the record
    // store's key array is a projection of the (df, key)-sorted
    // prefix-source array — collecting and sorting the keys a second
    // time per doc doubled the aggregation buffers and the checkpoint
    // payload for nothing. `set`'s element ORDER changes (df-major
    // instead of key-major), which is invisible to its only consumer:
    // size(array_intersect(sa, sb)) is order-independent.
    val docsAgg = ex
      .join(dfTab.hint("shuffle_hash"), "s")
      .groupBy("doc")
      .agg(
        array_sort(collect_list(struct(col("_df"), col("s")))).as("_by_df"),
        count(lit(1)).as("n"))
      .localCheckpoint()
    val sets = docsAgg.select(col("doc"),
      transform(col("_by_df"), e => e.getField("s")).as("set"), col("n"))
    val pref = docsAgg
      .select(col("doc"), col("n").as("_n"),
        explode(slice(col("_by_df"), lit(1),
          (col("n") - ceil(col("n") * threshold).cast("long") + 1).cast("int"))).as("_p"))
      .select(col("doc"), col("_p.s").as("s"), col("_n"))
    // AllPairs length filter: J ≥ t forces t·max(n_a,n_b) ≤
    // min(n_a,n_b) — exact for dyadic t (0.5 is exact in binary), so
    // the prune can never drop a true pair; the verify re-checks
    // exactly anyway
    val cand = pref.as("a")
      .join(pref.as("b"), col("a.s") === col("b.s") && col("a.doc") < col("b.doc")
        && col("b._n").cast("double") >= col("a._n") * threshold
        && col("a._n").cast("double") >= col("b._n") * threshold)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b")).distinct()
    cand
      .join(sets.select(col("doc").as("doc_a"), col("set").as("sa"), col("n").as("na")), "doc_a")
      .join(sets.select(col("doc").as("doc_b"), col("set").as("sb"), col("n").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("union_", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard_fp4",
        graft.text.TextAnalysis.fp(col("inter").cast("double") / col("union_").cast("double"), 4))
      .filter(col("jaccard_fp4") >= (threshold * 10000).toLong)
      .select("doc_a", "doc_b", "inter", "union_", "jaccard_fp4")
  }

  /** Jaccard similarity of shingle sets for candidate pairs, computed by
    * explode → co-group (never n²: only ids sharing ≥1 shingle meet).
    * Returns (doc_a, doc_b, inter, union_, jaccard_fp4) for pairs with
    * jaccard ≥ threshold.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double, maxShingleDf: Int = 1000): DataFrame = {
    // carry the per-doc set size on every exploded row (it is constant
    // per doc) — no separate `sizes` branch, no join-back, so the
    // corpus is not re-scanned for sizes
    val sh = df
      .select(col(idCol).as("doc"), shingles(col(textCol), n).as("shs"))
      .select(col("doc"), size(col("shs")).cast("long").as("sz"), explode(col("shs")).as("sh0"))
      .select(col("doc"), col("sz"), shingleKey(col("sh0")).as("sh"))
    // frequent-shingle guard (a shingle in >maxShingleDf docs generates
    // quadratic pairs and carries no dedup signal) via a COUNT window
    // over the shuffle the self-join needs anyway. The former
    // aggregate-then-join-back `rare` table would be the distinct
    // shingle set — far too large to broadcast at 100 TB, and joining
    // it non-broadcast re-shuffles; the window adds nothing but a sort
    // the sort-merge self-join reuses.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    val sh2 = sh
      .withColumn("_df", count(lit(1)).over(w))
      .filter(col("_df") <= maxShingleDf)
      .drop("_df")
    sh2.as("a")
      .join(sh2.as("b"), col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      // sz is constant per doc: min() is just a deterministic pick
      .agg(count(lit(1)).as("inter"), min(col("a.sz")).as("sz_a"), min(col("b.sz")).as("sz_b"))
      .withColumn("union_", col("sz_a") + col("sz_b") - col("inter"))
      .withColumn("jaccard_fp4", TextAnalysis.fp(col("inter").cast("double") / col("union_").cast("double"), 4))
      .filter(col("jaccard_fp4") >= (threshold * 10000).toLong)
      .select("doc_a", "doc_b", "inter", "union_", "jaccard_fp4")
  }

  /** Dedup-cluster resolution — the step after pair generation and
    * connected components: per near-dup cluster keep the best
    * document (highest `scoreCol`, ties to the smallest id) and
    * report cluster size. Singleton docs are their own cluster.
    *
    * The argmax is TWO hash aggregations on the cluster key (max
    * score + count, then min id among max-scored docs after a
    * join-back) — a `max(struct(...))` one-pass fold would be
    * tempting but struct aggregation buffers force SortAggregate;
    * both phases here partial-aggregate map-side and share the
    * cluster shuffle key. Returns (cluster, keep_id, keep_score,
    * n_docs).
    */
  def keepBest(docs: DataFrame, idCol: String, scoreCol: String,
               edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comp = connectedComponents(docs, idCol, edges, aCol, bCol)
    val scored = docs.select(col(idCol).as("node"), col(scoreCol).as("score"))
      .join(comp, col("node") === col(comp.columns.head)).drop(comp.columns.head)
    val best = scored.groupBy(col("component").as("cluster"))
      .agg(max(col("score")).as("keep_score"), count(lit(1)).as("n_docs"))
    scored
      .join(best, col("component") === col("cluster") && col("score") === col("keep_score"))
      .groupBy("cluster", "keep_score", "n_docs")
      .agg(min(col("node")).as("keep_id"))
      .select("cluster", "keep_id", "keep_score", "n_docs")
  }

  /** Cross-source duplicate matrix WITHOUT materializing duplicate
    * pairs. Input rows carry a content hash and a source label; output
    * is one row per canonically ordered source pair (source_a <=
    * source_b) with the number of exact-duplicate document pairs
    * spanning it. The naive `a.join(b, h && id<id)` form is C(n,2)
    * per dup cluster — a 10^7-doc boilerplate cluster (empty pages,
    * 404 bodies) explodes to 10^13 join rows on one key. Here the
    * corpus reduces to per-(hash, source) COUNTS first, the self-join
    * runs over that tiny table, and each cell is count arithmetic:
    * C(n,2) within a source, n_a*n_b across. Long `div` keeps the
    * arithmetic exact past 2^53. Shuffle volume is bounded by
    * distinct (hash, source) — linear in the corpus, never
    * cluster-quadratic.
    */
  def crossSourceMatrix(df: DataFrame, hashCol: String, sourceCol: String): DataFrame = {
    val cnt = df.select(col(hashCol).as("h"), col(sourceCol).as("source"))
      .groupBy("h", "source").agg(count(lit(1)).as("n"))
    cnt.as("a").join(cnt.as("b"),
        col("a.h") === col("b.h") && col("a.source") <= col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        when(col("a.source") === col("b.source"),
          expr("a.n * (a.n - 1) div 2"))
          .otherwise(col("a.n") * col("b.n")).as("p"))
      .groupBy("source_a", "source_b")
      .agg(sum("p").cast("long").as("n_dup_pairs"))
      .filter(col("n_dup_pairs") > 0)
  }

  /** Incremental (snapshot-vs-reference) exact dedup: drop incoming
    * documents whose content hash already exists in the reference
    * corpus. A shuffled left-anti equi-join on md5 — the reference
    * side reduces to its distinct hash set first (map-side partial
    * distinct), so the join carries 16-byte keys, not documents. At
    * 100 TB a bloom filter built over the reference hashes can
    * pre-filter the incoming side before this join; the anti-join
    * stays as the exact gate.
    */
  def dedupAgainst(incoming: DataFrame, reference: DataFrame,
                   idCol: String, textCol: String): DataFrame =
    incoming.join(
      reference.select(md5(col(textCol)).as("_ref_hash")).distinct(),
      md5(col(textCol)) === col("_ref_hash"), "left_anti")

  /** [[dedupAgainst]] with the Bloom pre-filter the plain version's
    * doc names as the 100 TB accelerant — now real. A Bloom filter of
    * the reference hashes (distributed build: Spark's sketch
    * aggregates per-partition filters and ORs them on the driver) is
    * broadcast; incoming rows whose hash is definitely-NOT-in-ref
    * skip the anti-join entirely and only the `might-contain` sliver
    * (true dups + fpp false positives) rides the shuffle. Since Bloom
    * filters have no false negatives the result is EXACTLY
    * [[dedupAgainst]] — same oracle — while the shuffled volume drops
    * from |incoming| to |dups| + fpp·|incoming|.
    *
    * The filter builds through Spark's own `bloom_filter_agg`
    * (per-partition filters OR-merged in the aggregate — the
    * distributed build), and the probe is Spark's native codegen'd
    * `BloomFilterMightContain` over the state embedded as a binary
    * literal (exposed as `graft_might_contain`; requires
    * [[graft.GraftSession]]'s extensions) — no UDF anywhere on the
    * path. `expectedItems` sizes the filter; at 100 TB pass the known
    * corpus cardinality instead of letting this helper count().
    */
  def dedupAgainstBloom(incoming: DataFrame, reference: DataFrame,
                        idCol: String, textCol: String,
                        fpp: Double = 0.03,
                        expectedItems: Long = -1L): DataFrame = {
    val refHashes = reference.select(md5(col(textCol)).as("_ref_hash"))
    val n = if (expectedItems > 0) expectedItems else math.max(1L, reference.count())
    // cap at Spark's runtime-filter ceiling (64M bits = 8 MB state);
    // past it the fpp degrades gracefully, correctness is unaffected
    val numBits = math.min(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp),
      64L * 1024 * 1024)
    // xxhash64(null) is the seed, never null — a null-text row probes
    // like any other and is KEPT by whichever branch it lands in
    // (fastKeep keeps it; the anti-join keeps it because null never
    // equals a reference hash). bloom_filter_agg over ZERO non-null
    // rows yields a null state — then nothing can be a dup, keep all.
    val bfRow = refHashes
      .agg(call_function("graft_bloom_agg",
        xxhash64(col("_ref_hash")), lit(n), lit(numBits)).as("bf"))
      .head()
    if (bfRow.isNullAt(0)) return incoming
    val bf = bfRow.getAs[Array[Byte]](0)
    val inc = incoming.withColumn("_h", md5(col(textCol)))
    val probe = call_function("graft_might_contain", lit(bf), xxhash64(col("_h")))
    val fastKeep = inc.filter(!probe)
    val checked = inc.filter(probe)
      .join(refHashes.distinct(), col("_h") === col("_ref_hash"), "left_anti")
    fastKeep.unionByName(checked).drop("_h")
  }

  /** Cross-document segment-level dedup (the Lee et al. 2022
    * "Deduplicating Training Data" granularity, cf.
    * arXiv:2107.06499 — there 50-token windows over a suffix array;
    * here consecutive k-token segments over an equi-join, the shape
    * that distributes): split each document into consecutive k-token
    * segments, count in how many distinct documents each segment text
    * occurs, strip segments occurring in >= `threshold` documents, and
    * reassemble the surviving text in original order.
    *
    * Plan: one shuffle by segment text shared between the
    * document-frequency aggregate and the flag join (same key — AQE
    * reuses the exchange), then one shuffle by doc for reassembly.
    * The df table is never broadcast: at corpus scale the set of
    * repeated segments is itself huge (boilerplate is the point), so
    * the flag join stays a shuffled equi-join on the segment key.
    * Returns (doc, clean_text, n_kept, n_dropped).
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, threshold: Int = 2): DataFrame = {
    // coalesce(tokens, []) preserves the pre-native HOF edge: a null
    // text produced ONE "" segment at pos 0 (greatest(size(null)-1,0)
    // = 0 under greatest's null-skipping), which partial mode emits
    // for an empty token array — null-text docs must not silently
    // vanish from the segment stream.
    val segs = df
      .select(col(idCol).as("doc"),
        posexplode(call_function("graft_word_ngrams",
          coalesce(TextAnalysis.tokens(col(textCol)), array().cast("array<string>")),
          lit(k), lit(k), lit(1))).as(Seq("pos", "seg")))
    val common = segs.groupBy("seg")
      .agg(count_distinct(col("doc")).as("_nd"))
      .filter(col("_nd") >= threshold)
      .select(col("seg"), lit(true).as("_common"))
    segs.join(common, Seq("seg"), "left")
      .groupBy("doc")
      .agg(
        concat_ws(" ", flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("seg"), col("_common")))),
          r => when(r.getField("_common").isNull, array(r.getField("seg"))).otherwise(array().cast("array<string>"))))).as("clean_text"),
        sum(when(col("_common").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_common").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Near-dup candidate pairs from shared winnowing fingerprints —
    * the MOSS match step over [[graft.text.TextAnalysis.winnow]]:
    * documents sharing ≥ `minShared` distinct fingerprint hashes
    * pair up. The self-join input is the WINNOWED stream — ~2/(w+1)
    * of the gram universe — so at corpus scale this is the shingle
    * self-join's shape at a fraction of its exchange volume, with
    * the winnowing guarantee (any shared run of ≥ n+w−1 tokens
    * surfaces at least one shared fingerprint) bounding what the
    * sampling can miss. Same frequent-key guard as
    * [[ngramJaccardPairs]] (a boilerplate fingerprint in > maxFpDf
    * docs carries no pairing signal), counted on the window the
    * self-join's own shuffle provides. Output: (doc_a, doc_b,
    * n_shared), doc_a < doc_b.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, w: Int = 4, minShared: Int = 2,
                  maxFpDf: Int = 1000): DataFrame = {
    val fps = df.select(col(idCol).as("doc"),
        explode(graft.text.TextAnalysis.winnow(
          graft.text.TextAnalysis.tokens(col(textCol)), n, w)).as("e"))
      .select(col("doc"), col("e.fp").as("fp")).distinct()
    val wdw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val f2 = fps
      .withColumn("_df", count(lit(1)).over(wdw))
      .filter(col("_df") <= maxFpDf)
      .drop("_df")
    f2.as("a")
      .join(f2.as("b"), col("a.fp") === col("b.fp") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Containment near-dup pairs: C(A→B) = |A∩B| / |A| over distinct
    * n-gram shingles — the ASYMMETRIC cousin of [[ngramJaccardPairs]].
    * A short document embedded verbatim in a much longer one has
    * containment ≈ 1 while Jaccard dilutes toward |A|/|B| (below any
    * usable bar) — the quote/aggregator/boilerplate-wrapper case
    * Jaccard structurally misses. Pairs survive when EITHER direction
    * reaches `threshold`; both directions are emitted so the caller
    * keeps the longer doc (or the shorter, for quote mining).
    *
    * Same scale machinery as the Jaccard op: per-doc set size carried
    * on the exploded rows (no sizes join-back), frequent-shingle
    * guard via a COUNT window over the shuffle the self-join needs
    * anyway. The guard prunes shingles from both docs symmetrically,
    * so measured containment can only UNDER-count — a pair at 1.0
    * stays a pair unless its evidence was itself boilerplate.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxShingleDf: Int = 1000): DataFrame = {
    // [[shingleKey]]'d exactly like ngramJaccardPairs — longs, not
    // shingle strings, ride the window + self-join exchange
    val sh = df
      .select(col(idCol).as("doc"), shingles(col(textCol), n).as("shs"))
      .select(col("doc"), size(col("shs")).cast("long").as("sz"), explode(col("shs")).as("sh0"))
      .select(col("doc"), col("sz"), shingleKey(col("sh0")).as("sh"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    val sh2 = sh
      .withColumn("_df", count(lit(1)).over(w))
      .filter(col("_df") <= maxShingleDf)
      .drop("_df")
    sh2.as("a")
      .join(sh2.as("b"), col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"), min(col("a.sz")).as("sz_a"), min(col("b.sz")).as("sz_b"))
      .withColumn("cont_ab_fp4", TextAnalysis.fp(col("inter").cast("double") / col("sz_a").cast("double"), 4))
      .withColumn("cont_ba_fp4", TextAnalysis.fp(col("inter").cast("double") / col("sz_b").cast("double"), 4))
      .filter(greatest(col("cont_ab_fp4"), col("cont_ba_fp4")) >= (threshold * 10000).toLong)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "cont_ab_fp4", "cont_ba_fp4")
  }

  /** Duplicated-span statistics — the positional token-n-gram sweep
    * behind substring-level dedup (Lee et al. 2022, arXiv:2107.06499,
    * which walks a suffix array; the equi-join re-expression below is
    * the shape that distributes). EVERY n-token window is counted
    * across the corpus — not distinct-per-doc like [[shingles]] —
    * and a document's duplication level is the fraction of its spans
    * occurring more than once globally (a span the doc itself repeats
    * is a duplicated span).
    *
    * Shape for 100 TB: positional grams collapse map-side to
    * (doc, [[shingleKey]](gram), k) before the first exchange, corpus
    * totals are one more partial agg on that key, and the flag join
    * hashes the same 8-BYTE long (three exchanges total — the
    * (doc, gram) agg keys differently than the gram-only join, so the
    * exchange itself is not reusable). The 60-bit md5 prefix — not
    * the raw up-to-n·w-char span, nor the 32-char md5 hex string an
    * earlier cut shuffled — is what rides every exchange. Docs
    * shorter than n tokens surface with zero spans via the outer
    * join, not silently dropped. The totals table is never broadcast:
    * at corpus scale the set of repeated spans is itself huge
    * (boilerplate is the point).
    */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 8): DataFrame = {
    require(n >= 1, s"dupNgramStats: n = $n must be >= 1")
    val grams = df.select(col(idCol).as("doc"),
        explode(call_function("graft_word_ngrams",
          TextAnalysis.tokens(col(textCol)), lit(n), lit(1), lit(0))).as("gram"))
      .select(col("doc"), shingleKey(col("gram")).as("_gh"))
    val perDoc = grams.groupBy("doc", "_gh").agg(count(lit(1)).as("k"))
    val totals = perDoc.groupBy("_gh").agg(sum(col("k")).as("_tot"))
    val agg = perDoc.join(totals, "_gh")
      .groupBy("doc")
      .agg(sum(col("k")).as("n_grams"),
        sum(when(col("_tot") > 1, col("k")).otherwise(0L)).as("n_dup_grams"))
    df.select(col(idCol).as("doc"))
      .join(agg, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac_fp4",
        when(col("n_grams") === 0, lit(0L))
          .otherwise(TextAnalysis.fp(
            col("n_dup_grams").cast("double") / col("n_grams").cast("double"), 4)))
  }
}

/** Hex-nibble helper shared by simhash/LSH. */
object TextHex {
  /** Map a lowercase hex char column to its 0-15 value. */
  def nibble(c: Column): Column =
    when(c >= "0" && c <= "9", ascii(c) - 48).otherwise(ascii(c) - 87).cast("long")
}
