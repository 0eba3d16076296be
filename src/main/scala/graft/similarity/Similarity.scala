package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Similarity search over embedding columns (`array<float>`).
  *
  * Dot products run in double precision with strict left-to-right
  * accumulation (`aggregate` over `zip_with`) so scores are bit-exact
  * and reproducible; outputs are fixed-point quantized. Brute force is
  * the correctness baseline; LSH bucketing is the scale path (candidates
  * from an equi-join on sign-pattern buckets, not a cross join).
  */
object Similarity {

  /** Max entries a literal argmin/argmax when-chain may inline before
    * the codegen constant-footprint path takes over. Below the cap the
    * chain stays fully whole-stage-codegen'd (each centroid/code is a
    * bound column); above it the same arithmetic runs as a `transform`
    * over ONE array literal + `array_max`/`array_min` — generated code
    * size is then constant in k, so production cell counts (10³-10⁴)
    * can never hit the JVM's 64 KB method limit (which silently drops
    * the whole stage to interpreted eval). Results are bit-identical
    * between the two paths for finite cosines/distances; all-NaN rows
    * (zero vectors) tie-break differently (when-chain: last id; argmax
    * path: min id) — degenerate inputs both paths document away.
    */
  private[graft] val InlineChainCap = 128

  /** Strict sequential double dot product of two float arrays —
    * the native codegen'd expression (graft.functions.DotProductExpr),
    * bit-identical to the HOF form
    * `aggregate(zip_with(a,b,(x,y)=>xd*yd), 0d, +)` but ~10× faster.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic pseudo-random hyperplane component for (plane p, dim
    * d): md5-derived value in [-0.5, 0.5). Portable to any engine with
    * md5 — used so LSH bucketing is reproducible and oracle-checkable.
    */
  def planeComponent(p: Column, d: Column): Column = {
    // first 6 hex chars -> int in [0, 16^6)
    val h = md5(concat(p.cast("string"), lit("_"), d.cast("string")))
    val v = conv(substring(h, 1, 6), 16, 10).cast("long")
    v.cast("double") / lit(16777216.0) - 0.5
  }

  /** planeComponent evaluated at plan-build time — md5 of "p_d" is
    * data-independent, so the hyperplane matrix becomes literal arrays
    * in the plan instead of per-row md5 calls. Bit-identical to the
    * expression form. */
  private def planeComponentValue(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 6), 16).toDouble / 16777216.0 - 0.5
  }

  /** Projection of `vec` onto hyperplane `p` — the exact arithmetic
    * (left-fold of per-dim double products) behind lshBucket's sign
    * bits, shared so multi-probe margins match the bucket bits. */
  def planeProjection(vec: Column, p: Int, dim: Int): Column = {
    // ONE array literal (constant reference in codegen), not a
    // CreateArray of dim per-element stores — see [[InlineChainCap]]
    val plane = typedLit((0 until dim).map(d => planeComponentValue(p, d)))
    aggregate(
      zip_with(vec, plane, (x, c) => x.cast("double") * c),
      lit(0.0),
      (acc, v) => acc + v
    )
  }

  /** Sign-pattern LSH bucket id over `numPlanes` hyperplanes. Vectors in
    * the same bucket are ANN candidates; bucket join replaces the n²
    * scan. Recall is tuned by numPlanes / multi-probe (spec-tested
    * against brute force).
    */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int): Column = {
    val bits = (0 until numPlanes).map { p =>
      when(planeProjection(vec, p, dim) > 0, lit("1")).otherwise(lit("0"))
    }
    concat_ws("", bits: _*)
  }

  /** ANN via LSH buckets: top-k per query among candidates sharing a
    * probed bucket. queries/data both carry (id, vec). Output:
    * query_id, id, cos_fp6.
    *
    * Scale guards (both default-off so the exact same-bucket contract
    * stays spec-checkable):
    *  - `maxBucket`: data rows in buckets holding more than this many
    *    vectors are dropped before the join — one degenerate bucket
    *    (e.g. near-zero vectors sharing a sign pattern) would otherwise
    *    make the probe quadratic. Same guard as
    *    [[graft.dedup.Dedup.lshCandidatePairs]].
    *  - `nprobe`: query-directed multi-probe — additionally probe the
    *    buckets obtained by flipping the `nprobe` sign bits whose
    *    hyperplane projections are smallest in magnitude (the planes
    *    the query sits closest to — the standard multi-probe order).
    *    Recall recovers what fewer planes / dropped buckets lose,
    *    at (nprobe+1)× candidate cost.
    */
  def annLsh(data: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             numPlanes: Int, dim: Int, k: Int,
             maxBucket: Long = Long.MaxValue, nprobe: Int = 0): DataFrame = {
    val d0 = data.select(col(idCol).as("id"), col(vecCol).as("vec"),
      lshBucket(col(vecCol), numPlanes, dim).as("bucket"), norm(col(vecCol)).as("nrm"))
    val d =
      if (maxBucket == Long.MaxValue) d0
      else {
        // tiny map-side-combined agg (one row per occupied bucket)
        val ok = d0.groupBy("bucket").agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucket).drop("_n")
        d0.join(ok, "bucket")
      }
    // stage per-plane projections so each evaluates once (no CSE across
    // the sign concat and the multi-probe flip-order sort); same
    // arithmetic as lshBucket, so sign(_pN) == bucket char N
    val projCols = (0 until numPlanes).map { p =>
      planeProjection(col("qvec"), p, dim).as(s"_p$p")
    }
    val qProj = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
      .select(Seq(col("query_id"), col("qvec"), col("qnrm")) ++ projCols: _*)
    val signBits = (0 until numPlanes).map(p => when(col(s"_p$p") > 0, lit("1")).otherwise(lit("0")))
    val homeBucket = concat_ws("", signBits: _*)
    val probeBuckets =
      if (nprobe <= 0) array(homeBucket)
      else {
        // flip order: ascending |projection| (deterministic tie on index)
        val ranked = array_sort(array((0 until numPlanes).map { p =>
          struct(abs(col(s"_p$p")).as("m"), lit(p).as("p"))
        }: _*))
        val flips = slice(ranked, 1, nprobe)
        graft.ColumnOps.let(homeBucket) { hb =>
          concat(array(hb), transform(flips, f => {
            val i = f.getField("p") // 0-based plane index == char position
            concat(
              hb.substr(lit(1), i),                    // prefix [0, i)
              when(hb.substr(i + 1, lit(1)) === "1", lit("0")).otherwise(lit("1")),
              hb.substr(i + 2, lit(numPlanes)))        // suffix (i, end]
          }))
        }
      }
    val q = qProj.select(col("query_id"), col("qvec"), col("qnrm"),
      explode(array_distinct(probeBuckets)).as("bucket"))
    val scored0 = q
      .join(d, "bucket")
      .filter(col("query_id") =!= col("id"))
      .withColumn("cos_fp6", TextAnalysis.fp(dot(col("qvec"), col("vec")) / (col("qnrm") * col("nrm")), 6))
    // multi-probe can reach a candidate via several buckets — dedup
    // before ranking (skipped for single-probe: buckets are disjoint)
    val scored =
      if (nprobe <= 0) scored0
      else scored0.groupBy("query_id", "id").agg(first("cos_fp6").as("cos_fp6"))
    // salted two-stage ranking ([[topKPerQuery]]): a degenerate bucket
    // can hold a corpus-scale candidate set per query when the
    // maxBucket guard is off
    topKPerQuery(scored, k, Seq(col("cos_fp6").desc, col("id")))
      .select("query_id", "id", "cos_fp6")
  }

  /** Deterministic IVF centroid pick: every ceil(n/k)-th vector in
    * vec-id order. A k-means refinement can swap in later — the index
    * contract (assign → inverted lists → probe) is unchanged, and a
    * deterministic pick keeps the operator oracle/spec-checkable.
    */
  def ivfCentroids(data: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    ivfCentroids(data, idCol, vecCol, k, data.count())

  /** Overload for callers that already hold the corpus count (the
    * adaptive-kCells queries derive k FROM a count — recounting here
    * would re-scan the corpus, a full table re-read on a JDBC
    * source). */
  def ivfCentroids(data: DataFrame, idCol: String, vecCol: String, k: Int,
                   n: Long): DataFrame = {
    val stride = math.max(1L, (n + k - 1) / k)
    // id-modulo pick: no global sort/window, scales to any corpus with
    // roughly dense ids (hash the id first for sparse id spaces)
    data
      .filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec"), norm(col(vecCol)).as("cnrm"))
  }

  /** Lloyd refinement of the IVF centroids: `iters` rounds of
    * assign-to-nearest (cosine) then per-cell dimension means —
    * spherical-k-means-style, entirely as DataFrame ops (two shuffles
    * per round: the dim explode and the regroup; assignment is a
    * broadcast join). Cells that lose all members (or average to the
    * zero vector) drop out, so the result has ≤ k centroids. Seeding
    * is deterministic (ivfCentroids); the per-dimension avg() is
    * order-of-accumulation dependent, so refined centroids can differ
    * in the last ulp across runs — fine for an ANN index, which is why
    * IVF queries stay rows-only rather than oracle-checked.
    */
  def kmeansCentroids(data: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val spark = data.sparkSession
    val centSchema = StructType(Seq(
      StructField("centroid_id", LongType, nullable = false),
      StructField("cvec", ArrayType(FloatType), nullable = false)))
    var cents = ivfCentroids(data, idCol, vecCol, k)
    for (_ <- 1 to iters) {
      val next = ivfAssign(data, idCol, vecCol, cents)
        .select(col("cell"), posexplode(col("vec")).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cell").cast("long"), transform(col("dm"), e => e.getField("m").cast("float")).as("cvec"))
      // collect the tiny centroid table per round: constant lineage
      // (no O(iters^2) recompute) and the broadcast is a literal.
      // Drop zero-mean cells — a zero centroid would cosine to NaN and
      // (NaN sorts greatest) swallow every vector next round.
      // Explicit schema (no reflection encoder) so this also works in
      // REPL sessions without the forked-JVM add-opens.
      val rows = next.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .filter { case (_, v) => v.exists(_ != 0.0f) }
        .map { case (id, v) => Row(id, v) }
      cents = spark
        .createDataFrame(java.util.Arrays.asList(rows: _*), centSchema)
        .withColumn("cnrm", norm(col("cvec")))
    }
    cents
  }

  /** Assign each vector to its nearest centroid by cosine (ties break
    * on centroid id). The centroid table is collected (it is k rows —
    * the same table [[kmeansCentroids]] already collects each round)
    * and inlined as literal arrays, so assignment is a pure map-side
    * projection: per-centroid cosines staged once, then a
    * literal-argmax when-chain over bound attributes. ZERO shuffles —
    * the previous form windowed over `row_number() PARTITION BY id`,
    * which exchanged corpus×k rows to compute an argmax. The resulting
    * (id, vec, cell) table is the inverted-list index: repartitioned/
    * bucketed by cell it serves probes shuffle-free.
    */
  def ivfAssign(data: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("centroid_id"), col("cvec"), col("cnrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1) // ascending id so the when-chain tie-break = window's (cos desc, id asc)
    require(cents.nonEmpty, "ivfAssign: empty centroid table")
    val staged = data.select(col(idCol).as("id"), col(vecCol).as("vec"), norm(col(vecCol)).as("nrm"))
    if (cents.length <= InlineChainCap) {
      // fully codegen'd: per-centroid cosines as bound columns (the
      // centroid vectors are array LITERALS — constant references in
      // the generated code, not per-element stores), argmax when-chain
      val scored = staged.select(
        col("id") +: col("vec") +: col("nrm") +: cents.toSeq.map { case (cid, cvec, cnrm) =>
          (dot(col("vec"), typedLit(cvec)) / (col("nrm") * lit(cnrm))).as(s"_c$cid")
        }: _*)
      // stage the max as a bound column too: inlining the k-way
      // greatest tree into every when-branch would re-emit it k times
      // (codegen CSE doesn't reach every consumer node) — the 64 KB
      // killer the chain cap exists to prevent
      val withBest = scored.select(col("*"),
        cents.map { case (cid, _, _) => col(s"_c$cid") }.reduce((a, b) => greatest(a, b)).as("_b"))
      val cell = cents.foldRight(lit(cents.last._1)) { case ((cid, _, _), acc) =>
        when(col(s"_c$cid") === col("_b"), lit(cid)).otherwise(acc)
      }
      withBest.select(col("id"), col("vec"), cell.as("cell"), col("nrm"))
    } else {
      // constant-footprint path for production cell counts: the whole
      // centroid table is ONE array-of-struct literal; argmax over
      // struct(cos, -cid) = (max cos, then min cid) — the same
      // tie-break as the when-chain. Generated code is O(1) in k.
      val centArr = typedLit(cents.toSeq.map { case (cid, cvec, cnrm) => (cid, cvec, cnrm) })
      val cell = graft.ColumnOps.let(array_max(transform(centArr, c =>
        struct(
          (dot(col("vec"), c.getField("_2")) / (col("nrm") * c.getField("_3"))).as("cos"),
          (-c.getField("_1")).as("negid"))))) { best => -best.getField("negid") }
      staged.select(col("id"), col("vec"), cell.as("cell"), col("nrm"))
    }
  }

  /** Exact per-query top-k without a corpus-sized single-task sort.
    *
    * A bare `row_number() OVER (PARTITION BY query_id)` sends EVERY
    * candidate row of a query to ONE reducer — at a 1 B-row corpus
    * that is a single-task sort of 1 B rows per query, the classic
    * hot-partition scale-killer. Instead: stage 1 ranks inside
    * (query_id, salt) groups — salt = hash(id) mod `fanout`, so each
    * group carries ~1/fanout of a query's candidates — and keeps k;
    * stage 2 ranks the surviving ≤ fanout·k rows per query. EXACT,
    * not approximate: every global top-k row also ranks ≤ k inside
    * its own salt group, so stage 1 never drops a winner. `order`
    * must be a total order (callers tie-break on id) so both stages
    * rank identically and the result is bit-stable.
    *
    * fanout defaults to the session's shuffle parallelism — on a
    * 1000-executor cluster the salted stage spreads each query over
    * the whole cluster, and stage 2's input stays k×parallelism,
    * reducer-sized by construction.
    */
  def topKPerQuery(scored: DataFrame, k: Int, order: Seq[Column],
                   fanout: Int = 0): DataFrame = {
    // the salt keys on `id`; the two ranking stages stage through
    // _salt/_lrk/rk — reject collisions instead of silently replacing
    // caller columns (same reserved-name contract as AsofJoin/RangeJoin)
    require(scored.columns.contains("id"),
      "topKPerQuery: input must carry an `id` column (the salt key)")
    Seq("_salt", "_lrk", "rk").foreach(n =>
      require(!scored.columns.contains(n),
        s"topKPerQuery: input column `$n` collides with a reserved staging name"))
    val f =
      if (fanout > 0) fanout
      else scored.sparkSession.sessionState.conf.numShufflePartitions
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("_salt")).orderBy(order: _*)
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(order: _*)
    scored
      .withColumn("_salt", pmod(hash(col("id")), lit(f)))
      .withColumn("_lrk", row_number().over(wLocal))
      .filter(col("_lrk") <= k)
      .drop("_salt", "_lrk")
      .withColumn("rk", row_number().over(wGlobal))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** IVF ANN: probe the `nprobe` nearest inverted lists per query,
    * exact top-k by cosine within them. Candidate count ≈
    * nprobe/k_cells of the corpus — the classic recall/cost dial.
    * Per-query ranking is the salted two-stage [[topKPerQuery]]: at
    * scale the probed lists still hold nprobe/k_cells of the corpus
    * per query, too many for a single reducer.
    */
  def ivfSearch(
      assigned: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      nprobe: Int,
      k: Int): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_cos").desc, col("centroid_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
      .crossJoin(broadcast(centroids))
      .withColumn("_cos", dot(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")))
      .withColumn("_rk", row_number().over(wq))
      .filter(col("_rk") <= nprobe)
      .select(col("query_id"), col("qvec"), col("qnrm"), col("centroid_id").as("cell"))
    val scored = probes
      .join(assigned, "cell")
      .filter(col("query_id") =!= col("id"))
      // assigned carries the per-row norm: one dot per candidate pair
      .withColumn("cos_fp6", TextAnalysis.fp(dot(col("qvec"), col("vec")) / (col("qnrm") * col("nrm")), 6))
    topKPerQuery(scored, k, Seq(col("cos_fp6").desc, col("id")))
      .select("query_id", "id", "cos_fp6")
  }

  /** Symmetric int8 quantization of a float vector: scale =
    * 127 / max|v| (1.0 for all-zero vectors), q_i = floor(v_i * scale
    * + 0.5) — the storage layout ANN indexes ship at scale (4× smaller
    * than float32, SIMD-friendly dot products). All arithmetic is
    * engine-portable (max over exact float→double promotions, one
    * IEEE multiply + floor per element). Returns struct(scale,
    * q: array<int>); callers fp() the scale for oracle output. */
  def quantizeInt8(vec: Column): Column =
    graft.ColumnOps.let(
      array_max(transform(vec, v => abs(v.cast("double"))))
    ) { mx =>
      graft.ColumnOps.let(when(mx === 0.0, 1.0).otherwise(lit(127.0) / mx)) { scale =>
        struct(
          scale.as("scale"),
          transform(vec, v => floor(v.cast("double") * scale + lit(0.5)).cast("int")).as("q"))
      }
    }

  /** Product-quantization codebook: vectors split into `m` contiguous
    * subspaces of dim/m dims; each subspace gets `k` code entries
    * taken from the deterministic id-stride sample (the same seeding
    * as [[ivfCentroids]] — replicable in an oracle, swap in sampled
    * k-means per subspace for production recall). Codes are the
    * 0-based rank of the sampled id. Output: (sub, code, cvec) —
    * m × k rows, a driver-sized table by construction.
    */
  def pqCodebook(data: DataFrame, idCol: String, vecCol: String,
                 dim: Int, m: Int, k: Int): DataFrame =
    pqCodebook(data, idCol, vecCol, dim, m, k, data.count())

  /** Overload for callers that already hold the corpus count — the
    * [[ivfCentroids]] twin: an IVF-PQ build needs BOTH a centroid
    * stride and a codebook stride, and recounting the corpus for each
    * is a second full pass on a JDBC source (and a second driver
    * action everywhere). */
  def pqCodebook(data: DataFrame, idCol: String, vecCol: String,
                 dim: Int, m: Int, k: Int, n: Long): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m = $m must divide dim = $dim")
    val sub = dim / m
    val stride = math.max(1L, (n + k - 1) / k)
    // the window input is the ≤ k sampled rows, not the corpus — a
    // single-partition sort of a codebook-sized set
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("sid"))
    data.filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).as("sid"), col(vecCol).as("v"))
      .withColumn("code", (row_number().over(w) - 1).cast("int"))
      .select(col("code"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), slice(col("v"), s * sub + 1, sub).as("cvec"))): _*)).as("e"))
      .select(col("e.sub").as("sub"), col("code"), col("e.cvec").as("cvec"))
  }

  /** Per-subspace Lloyd (k-means) refinement of [[pqCodebook]] — the
    * production-recall variant: the stride codebook seeds, then each
    * round (a) assigns every subvector to its nearest entry with
    * [[pqEncode]] itself (same metric, same tie-break — the argmin
    * path is shared, not re-derived) and (b) replaces each entry with
    * its members' per-dimension mean. Distortion is monotone
    * non-increasing by construction; entries that lose all members
    * drop out (codebook may shrink below k). Three shuffles per round
    * (the (id, sub) assignment join-back, dim explode, regroup) plus
    * an m×k-row collect — the [[kmeansCentroids]] shape applied per
    * subspace.
    *
    * The per-dimension `avg()` is order-of-accumulation dependent, so
    * trained entries can differ in the last ulp across runs — like
    * refined IVF centroids this variant is spec-tested on
    * recall/distortion, NOT oracle-checked; the deterministic stride
    * codebook remains the replicable default.
    */
  def pqCodebookTrained(data: DataFrame, idCol: String, vecCol: String,
                        dim: Int, m: Int, k: Int, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}
    require(m >= 1 && dim % m == 0, s"m = $m must divide dim = $dim")
    val subLen = dim / m
    val spark = data.sparkSession
    val cbSchema = StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("cvec", ArrayType(FloatType), nullable = false)))
    // subvector table (id, sub, sv): ONE explode, pinned so every
    // round reads the same partitions instead of re-running the scan
    val sv = data.select(col(idCol).as("id"),
      posexplode(array((0 until m).map(s =>
        slice(col(vecCol), s * subLen + 1, subLen)): _*)).as(Seq("sub", "sv")))
      .localCheckpoint()
    var cb = pqCodebook(data, idCol, vecCol, dim, m, k)
    for (_ <- 1 to iters) {
      val enc = pqEncode(data, idCol, vecCol, cb).select(col("id"), col("sub"), col("code"))
      val next = sv.join(enc, Seq("id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy("sub", "code", "d").agg(avg(col("x").cast("double")).as("mval"))
        .groupBy("sub", "code").agg(array_sort(collect_list(struct(col("d"), col("mval")))).as("dm"))
        .select(col("sub"), col("code"), transform(col("dm"), e => e.getField("mval").cast("float")).as("cvec"))
      val rows = next.collect().toSeq
        .map(r => Row(r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      cb = spark.createDataFrame(java.util.Arrays.asList(rows: _*), cbSchema)
    }
    cb
  }

  /** PQ-encode every vector: per subspace, the code of the nearest
    * codebook entry by L2² (ties to the SMALLEST code). The codebook
    * is collected (m × k rows — driver-sized like the IVF centroid
    * table) and inlined as literals, so encoding is a pure map-side
    * projection — ZERO shuffles, exactly the [[ivfAssign]] shape:
    * subvector slices staged once, per-code distances as bound
    * columns, argmin as a literal when-chain. d2 = x·x − 2·x·c + c·c
    * with the constant c·c folded at plan-build time, so each code
    * costs ONE dot product against the staged slice.
    *
    * Output: (id, [carry...,] sub, code, d2_fp6) — m rows per vector
    * (exploded, oracle-friendly); callers needing the packed form
    * group to `array_agg(code ORDER BY sub)`. At 100 TB this is the
    * 4×-8× storage-compression pass before ANN serving; the encode
    * itself is embarrassingly parallel.
    *
    * `carry` names input columns to carry through unchanged — pass the
    * IVF `cell` of an [[ivfAssign]]'ed frame so the codes leave the
    * encode already cell-keyed (the [[IvfIndex.buildPq]] at-rest
    * layout), letting [[pqIvfSearch]] prune cells with NO corpus-wide
    * id join.
    */
  def pqEncode(data: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, carry: Seq[String] = Nil): DataFrame =
    pqEncode(data, idCol, vecCol, collectCodebook(codebook), carry)

  /** The driver-collected (sub, code, cvec) codebook rows — m×k,
    * always driver-sized. Collect ONCE per query and share between
    * [[pqEncode]] and the search LUT (each used to re-collect the
    * codebook frame, re-running its sampling window per consumer). */
  def collectCodebook(codebook: DataFrame): Array[(Int, Int, Seq[Float])] =
    codebook.select(col("sub"), col("code"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))

  /** [[pqEncode]] over a pre-collected codebook. */
  def pqEncode(data: DataFrame, idCol: String, vecCol: String,
               codebookRows: Array[(Int, Int, Seq[Float])], carry: Seq[String]): DataFrame = {
    val cb = codebookRows
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    require(cb.nonEmpty, "pqEncode: empty codebook")
    val m = cb.size
    val subLen = cb.head._2.head._3.length
    val carryCols = carry.map(col)
    val staged = data.select(
      (col(idCol).as("id") +: carryCols) ++ (0 until m).map(s =>
        slice(col(vecCol), s * subLen + 1, subLen).as(s"_s$s")): _*)
    val kCodes = cb.valuesIterator.map(_.size).max
    val outCols = Seq(col("e.sub").as("sub"), col("e.code").as("code"), col("e.d2_fp6").as("d2_fp6"))
    if (kCodes <= InlineChainCap) {
      // per (sub, code): d2 staged as a bound column (the codebook
      // entry is an array LITERAL — a constant reference in codegen,
      // not per-element stores), then the argmin when-chain reads
      // bound attributes (no re-evaluation)
      val scored = staged.select(
        (col("id") +: carryCols) ++ (0 until m).flatMap { s =>
          cb(s).map { case (_, code, cvec) =>
            val c = typedLit(cvec)
            val cc = cvec.map(v => v.toDouble * v.toDouble).sum
            (dot(col(s"_s$s"), col(s"_s$s")) - lit(2.0) * dot(col(s"_s$s"), c) + lit(cc)).as(s"_d${s}_$code")
          }
        }: _*)
      // stage each subspace's min as a bound column: the explode's
      // generator gets NO codegen subexpression elimination, so an
      // inlined k-way least tree would re-emit per when-branch — the
      // 64 KB killer (seen at m=4, k=16 before this staging)
      val withBest = scored.select(col("*") +: (0 until m).map { s =>
        cb(s).map { case (_, code, _) => col(s"_d${s}_$code") }
          .reduce(least(_, _)).as(s"_b$s")
      }: _*)
      val subRows = (0 until m).map { s =>
        val code = cb(s).foldRight(lit(cb(s).last._2)) { case ((_, c, _), acc) =>
          when(col(s"_d${s}_$c") === col(s"_b$s"), lit(c)).otherwise(acc)
        }
        struct(lit(s).as("sub"), code.as("code"), TextAnalysis.fp(col(s"_b$s"), 6).as("d2_fp6"))
      }
      withBest.select((col("id") +: carryCols) :+ explode(array(subRows: _*)).as("e"): _*)
        .select((col("id") +: carryCols) ++ outCols: _*)
    } else {
      // constant-footprint path for production code counts: each
      // subspace's codebook is ONE array-of-struct literal; argmin via
      // array_min(struct(d2, code)) = (min d2, then min code) — the
      // same tie-break as the when-chain; generated code O(1) in k.
      // x·x is staged through a let so it folds once, not per entry.
      val subRows = (0 until m).map { s =>
        val entries = typedLit(cb(s).toSeq.map { case (_, code, cvec) =>
          (code, cvec, cvec.map(v => v.toDouble * v.toDouble).sum)
        })
        val argmin = graft.ColumnOps.let(dot(col(s"_s$s"), col(s"_s$s"))) { xx =>
          array_min(transform(entries, e =>
            struct(
              (xx - lit(2.0) * dot(col(s"_s$s"), e.getField("_2")) + e.getField("_3")).as("d2"),
              e.getField("_1").as("code"))))
        }
        // bind the argmin once — each getField would otherwise re-run
        // the whole k-entry scan (no CSE inside HOF lambdas)
        graft.ColumnOps.let(argmin) { best =>
          struct(lit(s).as("sub"), best.getField("code").as("code"),
            TextAnalysis.fp(best.getField("d2"), 6).as("d2_fp6"))
        }
      }
      staged.select((col("id") +: carryCols) :+ explode(array(subRows: _*)).as("e"): _*)
        .select((col("id") +: carryCols) ++ outCols: _*)
    }
  }

  /** PQ-ADC (asymmetric distance) ANN search over [[pqEncode]] codes:
    * per query, a lookup table of d2(query subvector, codebook entry)
    * is built by a broadcast join against the m×k codebook; each
    * encoded corpus row then costs ONE LUT probe per subspace (join
    * on (sub, code)) and the approximate distance is the sum of its m
    * table entries — the classic Jégou et al. PQ trick: distances
    * against a 100 TB corpus without touching a single corpus float.
    *
    * Per-subspace distances are fp6-QUANTIZED before the sum so the
    * m-way addition is integer-exact (a double sum's accumulation
    * order would wobble between engines/retries); the oracle
    * replicates quantize-then-sum bit-for-bit.
    *
    * Output: (query_id, id, approx_d2_fp6) — top-k per query by
    * ascending approximate distance, ties to min id. One shuffle for
    * the (sub, code) join-back and one for the per-query top-k
    * window.
    *
    * The LUT is |queries|·m·k rows — broadcast-sized only while the
    * query SET is small (the codebook itself always is). The
    * broadcast hint is therefore applied only when the estimated LUT
    * size (from the query plan's sizeInBytes stats) fits
    * `maxLutBroadcastBytes`; above that the join degrades gracefully
    * to a shuffled equi-join on (sub, code) instead of blowing the
    * driver/broadcast memory limit.
    */
  def pqSearch(encoded: DataFrame, codebook: DataFrame,
               queries: DataFrame, idCol: String, vecCol: String,
               k: Int, maxLutBroadcastBytes: Long): DataFrame =
    pqSearch(encoded, collectCodebook(codebook), queries, idCol, vecCol, k, maxLutBroadcastBytes)

  def pqSearch(encoded: DataFrame, codebook: DataFrame,
               queries: DataFrame, idCol: String, vecCol: String,
               k: Int): DataFrame =
    pqSearch(encoded, collectCodebook(codebook), queries, idCol, vecCol, k, 64L << 20)

  /** [[pqSearch]] over a pre-collected codebook ([[collectCodebook]]). */
  def pqSearch(encoded: DataFrame, codebookRows: Array[(Int, Int, Seq[Float])],
               queries: DataFrame, idCol: String, vecCol: String,
               k: Int, maxLutBroadcastBytes: Long = 64L << 20): DataFrame = {
    val (lutSide, _) = pqLut(codebookRows, queries, idCol, vecCol, maxLutBroadcastBytes)
    val scored = encoded.select(col("id"), col("sub"), col("code"))
      .join(lutSide, Seq("sub", "code"))
      .filter(col("query_id") =!= col("id"))
      .groupBy("query_id", "id")
      .agg(sum("pd6").as("approx_d2_fp6"))
    // salted two-stage ranking: the ADC-scored set is corpus-sized
    // per query, so a bare per-query window would be a single-task
    // corpus sort — see [[topKPerQuery]]
    topKPerQuery(scored, k, Seq(col("approx_d2_fp6"), col("id")))
      .select("query_id", "id", "approx_d2_fp6")
  }

  /** The per-query ADC lookup table behind [[pqSearch]] /
    * [[pqIvfSearch]]: per (query, sub, code) the exact
    * subvector-to-entry d2, fp6-quantized. Built by exploding the
    * query's subvectors against codebook literals — queries × m×k
    * rows, never corpus-sized. Broadcast when the plan-stats estimate
    * fits `maxLutBroadcastBytes`; otherwise left as a shuffled side.
    */
  private def pqLut(cb: Array[(Int, Int, Seq[Float])], queries: DataFrame,
                    idCol: String, vecCol: String,
                    maxLutBroadcastBytes: Long): (DataFrame, Boolean) = {
    require(cb.nonEmpty, "pqLut: empty codebook")
    val subLen = cb.head._3.length
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val exploded =
      if (cb.length <= InlineChainCap) {
        // per-entry bound structs; codebook vectors are array literals
        val entries = cb.map { case (s, c, cvec) =>
          val cArr = typedLit(cvec)
          val cc = cvec.map(v => v.toDouble * v.toDouble).sum
          struct(lit(s).as("sub"), lit(c).as("code"),
            graft.ColumnOps.let(slice(col("_qv"), s * subLen + 1, subLen)) { x =>
              TextAnalysis.fp(dot(x, x) - lit(2.0) * dot(x, cArr) + lit(cc), 6)
            }.as("pd6"))
        }
        qv.select(col("query_id"), explode(array(entries: _*)).as("e"))
      } else {
        // constant-footprint path: the whole m×k codebook is ONE
        // array-of-struct literal; the entry LUT rows come from a
        // transform over it — generated code O(1) in m·k
        val entArr = typedLit(cb.toSeq.map { case (s, c, cvec) =>
          (s, c, cvec, cvec.map(v => v.toDouble * v.toDouble).sum)
        })
        val rows = transform(entArr, e =>
          struct(e.getField("_1").as("sub"), e.getField("_2").as("code"),
            graft.ColumnOps.let(slice(col("_qv"), e.getField("_1") * lit(subLen) + lit(1), lit(subLen))) { x =>
              TextAnalysis.fp(dot(x, x) - lit(2.0) * dot(x, e.getField("_3")) + e.getField("_4"), 6)
            }.as("pd6")))
        qv.select(col("query_id"), explode(rows).as("e"))
      }
    val lut = exploded
      .select(col("query_id"), col("e.sub").as("sub"), col("e.code").as("code"), col("e.pd6").as("pd6"))
    // estimate LUT bytes from the query plan's stats: rows ≈
    // sizeInBytes / (4·dim + 24), LUT row ≈ 32 bytes × m·k per query
    val m = cb.map(_._1).max + 1
    val qRowBytes = 4L * m * subLen + 24L
    val qBytes = queries.queryExecution.optimizedPlan.stats.sizeInBytes
    val lutBytes = (qBytes / qRowBytes).max(1) * (32L * cb.length)
    val small = lutBytes <= maxLutBroadcastBytes
    (if (small) broadcast(lut) else lut, small)
  }

  /** IVF-pruned PQ-ADC probe search — the composition the two indexes
    * exist for (IVF-PQ, Jégou et al.): the IVF index prunes the
    * corpus to the `nprobe` cells nearest each query (probe pick is a
    * broadcast join against the k_cells-row centroid table, windowed
    * per query over k_cells rows — bounded), and PQ-ADC scores ONLY
    * those cells' members from the per-query LUT. A query therefore
    * touches ~nprobe/k_cells of the encoded corpus and never a corpus
    * float — true ANN at 100 TB, where [[pqSearch]] alone is an
    * (ADC-cheap but) full-corpus scan per query batch.
    *
    * When `encoded` carries a `cell` column ([[pqEncode]] with
    * `carry = Seq("cell")` over an [[ivfAssign]]'ed frame — the same
    * layout [[IvfIndex.buildPq]] persists at rest), the probe is a
    * DIRECT cell equi-join against the (queries × nprobe)-row probe
    * table: the corpus-sized code side is pruned to the probed cells
    * BEFORE any shuffle, and `assigned` is not read at all. Without a
    * cell column, the (id, cell) index is pruned first
    * (`assigned ⋈ probes` — the small side) and only then joined to
    * the codes on id; prefer the cell-carrying layout at scale, where
    * that id join still shuffles the full encoded corpus.
    *
    * `assigned` is [[ivfAssign]]'s (id, cell) inverted index over the
    * same ids as `encoded` (unused when `encoded` has `cell`);
    * distances and tie-breaks are bit-identical to [[pqSearch]]
    * restricted to the probed cells, so recall composes exactly like
    * [[ivfSearch]]'s.
    *
    * Output: (query_id, id, approx_d2_fp6) — top-k per query by
    * ascending approximate distance, ties to min id.
    */
  def pqIvfSearch(encoded: DataFrame, codebook: DataFrame,
                  assigned: DataFrame, centroids: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  nprobe: Int, k: Int,
                  maxLutBroadcastBytes: Long = 64L << 20): DataFrame =
    pqIvfSearch(encoded, collectCodebook(codebook), assigned, centroids,
      queries, idCol, vecCol, nprobe, k, maxLutBroadcastBytes)

  /** [[pqIvfSearch]] over a pre-collected codebook. */
  def pqIvfSearch(encoded: DataFrame, codebookRows: Array[(Int, Int, Seq[Float])],
                  assigned: DataFrame, centroids: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  nprobe: Int, k: Int,
                  maxLutBroadcastBytes: Long): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_cos").desc, col("centroid_id"))
    val probes0 = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
      .crossJoin(broadcast(centroids))
      .withColumn("_cos", dot(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm")))
      .withColumn("_rk", row_number().over(wq))
      .filter(col("_rk") <= nprobe)
      .select(col("query_id"), col("centroid_id").as("cell"))
    val (lutSide, lutSmall) = pqLut(codebookRows, queries, idCol, vecCol, maxLutBroadcastBytes)
    // the probe table is (queries × nprobe) rows — strictly smaller
    // than the LUT (queries × m·k), so it broadcasts whenever the LUT
    // does; above the threshold both degrade to shuffled joins
    val probes = if (lutSmall) broadcast(probes0) else probes0
    // prune first (cell equi-join), then ADC-score the survivors: the
    // LUT probe runs over nprobe cells' members, not the corpus
    val cand =
      (if (encoded.columns.contains("cell"))
         encoded.select(col("id"), col("sub"), col("code"), col("cell"))
           .join(probes, "cell")
       else
         encoded.select(col("id"), col("sub"), col("code"))
           .join(assigned.select(col("id"), col("cell")).join(probes, "cell"), "id"))
        .filter(col("query_id") =!= col("id"))
    val scored = cand
      .join(lutSide, Seq("query_id", "sub", "code"))
      .groupBy("query_id", "id")
      .agg(sum("pd6").as("approx_d2_fp6"))
    topKPerQuery(scored, k, Seq(col("approx_d2_fp6"), col("id")))
      .select("query_id", "id", "approx_d2_fp6")
  }

  /** Two-stage retrieve→rerank ANN — the production serving pattern
    * over the IVF-PQ index: [[pqIvfSearch]] retrieves `kCand`
    * approximate candidates per query (cell-pruned ADC — the corpus
    * floats are never touched), then the exact cosine runs ONLY on
    * those candidates: ≤ queries·kCand true-distance evaluations
    * regardless of corpus size, joined by id against `data` (at rest:
    * the partition-pruned [[IvfIndex]] vector files). The final
    * ranking window is per-query over ≤ kCand rows — bounded by
    * construction, no salting needed. Recall is the index's recall at
    * kCand; the ORDER of what is returned is exact.
    *
    * Output: (query_id, id, cos_fp6, rk), rk 1..k by descending true
    * cosine, ties to the smaller id.
    */
  def pqIvfRerank(encoded: DataFrame, codebook: DataFrame,
                  assigned: DataFrame, centroids: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  data: DataFrame, nprobe: Int, kCand: Int, k: Int): DataFrame =
    pqIvfRerank(encoded, collectCodebook(codebook), assigned, centroids,
      queries, idCol, vecCol, data, nprobe, kCand, k)

  /** [[pqIvfRerank]] over a pre-collected codebook. */
  def pqIvfRerank(encoded: DataFrame, codebookRows: Array[(Int, Int, Seq[Float])],
                  assigned: DataFrame, centroids: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  data: DataFrame, nprobe: Int, kCand: Int, k: Int): DataFrame = {
    require(kCand >= k, s"pqIvfRerank: kCand = $kCand must be >= k = $k")
    val approx = pqIvfSearch(encoded, codebookRows, assigned, centroids,
      queries, idCol, vecCol, nprobe, kCand, 64L << 20)
    rerankExact(approx,
      data.select(col(idCol).as("id"), col(vecCol).as("_dv")),
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")), k)
  }

  /** Exact-cosine rescoring tail shared by [[pqIvfRerank]] and the
    * at-rest [[IvfIndex.searchRerank]]: join the retrieved (query_id,
    * id) candidates back to true vectors and rank by exact cosine.
    * `dv` must be (id, _dv); `qv` must be (query_id, _qv). The rank
    * window is per-query over ≤ kCand rows — bounded by construction.
    */
  private[similarity] def rerankExact(approx: DataFrame, dv: DataFrame,
                                      qv: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_fp6").desc, col("id"))
    approx.select("query_id", "id")
      .join(dv, "id")
      .join(qv, "query_id")
      .withColumn("cos_fp6", graft.text.TextAnalysis.fp(cosine(col("_qv"), col("_dv")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "id", "cos_fp6", "rk")
  }

  /** Matryoshka-truncation recall harness (Kusupati et al. 2022,
    * arXiv:2205.13147): for each truncation dimension d, brute-force
    * cosine top-k over the FIRST d embedding components vs the
    * full-dimension top-k, reported as per-query hit counts — the
    * measurement every MRL deployment runs before serving truncated
    * vectors (store/serve d ≪ fullDim at a known recall cost).
    *
    * Shape: queries broadcast against one corpus scan per dimension
    * (the brute-force baseline — this is the EVAL harness, run on a
    * sampled corpus; production retrieval at truncated d rides the
    * same IVF/PQ paths as everything else). Rankings use the salted
    * two-stage [[topKPerQuery]] (never a corpus-sized single-task
    * window); the per-dim overlap join touches k rows per query.
    * Cosine over a d-slice is the same strict left-fold both engines
    * compute, so ranks and hit counts replicate exactly (fp6 scores,
    * id tie-break).
    *
    * Output: (dim, query_id, n_hit, recall_fp4) — one row per
    * (truncation dim, query); recall = n_hit / k.
    */
  def mrlRecall(data: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, dims: Seq[Int], fullDim: Int,
                k: Int): DataFrame = {
    val corpus = data.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val qs = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")))
    def topkAt(d: Int): DataFrame = {
      val scored = corpus.crossJoin(qs)
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id"),
          TextAnalysis.fp(cosine(slice(col("vec"), 1, d), slice(col("qvec"), 1, d)), 6).as("cos_fp6"))
      topKPerQuery(scored, k, Seq(col("cos_fp6").desc, col("id")))
        .select(col("query_id"), col("id"))
    }
    val full = topkAt(fullDim)
    // plain (unhinted) frame: qids sits LEFT of a left-outer join,
    // where a broadcast-build hint is unsatisfiable and only warns
    val qids = queries.select(col(idCol).as("query_id"))
    dims.map { d =>
      val hits = topkAt(d).join(full, Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      qids.join(hits, Seq("query_id"), "left")
        .select(lit(d).as("dim"), col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_fp4",
          TextAnalysis.fp(col("n_hit").cast("double") / lit(k.toDouble), 4))
    }.reduce(_ unionByName _)
  }

  /** Near-duplicate pairs by cosine ≥ threshold, candidates restricted
    * to an existing partition/bucket column (label, LSH bucket, IVF
    * cell, …) so the join is equi- not cross-.
    *
    * `maxBucket` (default off, preserving the exact same-bucket
    * contract) drops buckets larger than the cap before the self-join
    * — the same degenerate-bucket guard as [[annLsh]]: pair count is
    * Σ|bucket|², so ONE oversized bucket (a skewed label, an IVF cell
    * left too coarse for the corpus) would otherwise go quadratic.
    * At scale, size the bucketing so buckets stay ~10³ rows (e.g.
    * IVF kCells ≈ N/1000) and keep the cap as the safety net.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, bucketCol: String,
                   thresholdFp6: Long, maxBucket: Long = Long.MaxValue): DataFrame = {
    // norms precomputed per row (identical bits to computing them per
    // pair — sqrt(dot(v,v)) is the same expression), so each candidate
    // pair costs ONE dot product instead of three
    val v0 = df.select(
      col(idCol).as("id"), col(vecCol).as("vec"), col(bucketCol).as("bucket"),
      norm(col(vecCol)).as("nrm"))
    val v =
      if (maxBucket == Long.MaxValue) v0
      else {
        val ok = v0.groupBy("bucket").agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucket).drop("_n")
        v0.join(ok, "bucket")
      }
    v.as("a")
      .join(v.as("b"), col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos_fp6", TextAnalysis.fp(dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos_fp6") >= thresholdFp6)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos_fp6"))
  }
}
