package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.{Dedup, LshIndex}
import graft.similarity.{IvfIndex, IvfMaintain, Similarity}

class DedupSimSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").select("keep_id", "dup_count").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("shingles produce distinct n-grams, short docs collapse") {
    val sh = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh")).as[Seq[String]].collect()
    assert(sh(0).toSet == Set("a b c", "b c d"))
    assert(sh(1) == Seq("a b"))
  }

  test("LSH candidate pairs include identical documents") {
    val docs = ((1 to 20).map(i => (i.toLong, s"unique doc number $i with filler words ${i * 7}")) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog today"),
          (101L, "the quick brown fox jumps over the lazy dog today"))).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 101L)))
  }

  // Over-cap-bucket re-split scenario: 60 docs sharing 3 of their 4
  // shingles collide heavily on band keys (a minhash slot usually takes
  // its min from a shared shingle), so low caps produce hot buckets
  // whose members still differ on OTHER slots — exactly the degenerate-
  // band case re-split exists for.
  private def resplitDocs =
    (1 to 60).map(i => (i.toLong, s"common alpha beta gamma word$i tail$i")).toDF("doc_id", "text")

  /** Independent Scala re-implementation of the banding + cap +
    * re-split semantics over collected signatures (numPerm=8,
    * rowsPerBand=2), used to verify lshCandidatePairs end-to-end. */
  private def referencePairs(sigs: Map[Long, Seq[Long]], cap: Int, resplit: Boolean): (Set[(Long, Long)], Int) = {
    val banded = sigs.toSeq.flatMap { case (doc, sig) =>
      (0 until 4).map { b =>
        val key = s"${sig(b * 2)}_${sig(b * 2 + 1)}"
        val ext = s"${key}_${sig((b * 2 + 2) % 8)}_${sig((b * 2 + 3) % 8)}"
        (doc, b, key, ext)
      }
    }
    val byBucket = banded.groupBy(e => (e._2, e._3))
    val hotBuckets = byBucket.filter(_._2.size > cap)
    val ok = byBucket.filter(_._2.size <= cap).values.flatten.map(e => (e._1, e._2, e._3))
    val resplitOk = hotBuckets.values.flatten.map(e => (e._1, e._2 + 4, e._4))
      .groupBy(e => (e._2, e._3)).filter(_._2.size <= cap).values.flatten
    val all = (ok ++ (if (resplit) resplitOk else Nil)).toSeq
    val pairs = all.groupBy(e => (e._2, e._3)).values.flatMap { es =>
      val ds = es.map(_._1)
      for (a <- ds; b <- ds if a < b) yield (a, b)
    }.toSet
    (pairs, hotBuckets.size)
  }

  test("over-cap LSH buckets re-split on extended keys instead of dropping") {
    val docs = resplitDocs
    val cap = 4
    val sigs = docs.select(col("doc_id"),
        Dedup.minhash(Dedup.shingles(col("text"), 3), 8).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val (refOn, hotCount) = referencePairs(sigs, cap, resplit = true)
    val (refOff, _) = referencePairs(sigs, cap, resplit = false)
    assert(hotCount > 0, "scenario must actually produce over-cap buckets")
    assert(refOn.diff(refOff).nonEmpty, "re-split must rescue pairs the drop guard loses")
    val got = Dedup.lshCandidatePairs(docs, "doc_id", "text", maxBucket = cap)
      .as[(Long, Long)].collect().toSet
    assert(got == refOn, s"resplit=on mismatch: extra=${got.diff(refOn)} missing=${refOn.diff(got)}")
    val gotOff = Dedup.lshCandidatePairs(docs, "doc_id", "text", maxBucket = cap, resplit = false)
      .as[(Long, Long)].collect().toSet
    assert(gotOff == refOff)
  }

  test("adaptive bucket cap: a planted hot corpus re-splits with NO hand-tuned cap") {
    // 300 docs sharing 3 of their shingles (the resplitDocs shape,
    // scaled): band buckets keyed off shared-shingle minhash slots
    // hold far more than the adaptive cap max(64, floor(sqrt(420))) =
    // 64, while extended keys differ per doc — the re-split must
    // engage AND rescue from the derived cap alone (no maxBucket
    // argument anywhere)
    val docs = ((1 to 300).map(i => (i.toLong, s"common alpha beta gamma word$i tail$i")) ++
      (1000 to 1119).map(i => (i.toLong, s"unique doc $i filler ${i * 7} tailx$i"))).toDF("doc_id", "text")
    val n = 420
    val cap = math.max(64, math.sqrt(n).toInt)
    val sigs = docs.select(col("doc_id"),
        Dedup.minhash(Dedup.shingles(col("text"), 3), 8).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val (ref, hotCount) = referencePairs(sigs, cap, resplit = true)
    assert(hotCount > 0, "scenario must actually produce over-cap buckets at the derived cap")
    val got = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(got == ref, s"adaptive mismatch: extra=${got.diff(ref).size} missing=${ref.diff(got).size}")
    // simhash band join derives the same cap: identical docs in the
    // hot cluster share signatures, so their band buckets exceed 64 —
    // result must equal the explicit-cap run
    val adaptivePairs = Dedup.simhashPairs64(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    val explicitPairs = Dedup.simhashPairs64(docs, "doc_id", "text", maxBucket = cap.toLong)
      .as[(Long, Long, Int)].collect().toSet
    assert(adaptivePairs == explicitPairs)
  }

  test("nearDupPairs bucket cap drops only oversized buckets") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val uncapped = Similarity.nearDupPairs(emb, "vec_id", "embedding", "label", 200000L)
      .as[(Long, Long, Long)].collect().toSet
    // a cap above every bucket size changes nothing
    val bigCap = Similarity.nearDupPairs(emb, "vec_id", "embedding", "label", 200000L,
      maxBucket = 1000000L).as[(Long, Long, Long)].collect().toSet
    assert(bigCap == uncapped)
    // cap 0 drops every bucket → empty (the guard engages)
    assert(Similarity.nearDupPairs(emb, "vec_id", "embedding", "label", 200000L,
      maxBucket = 0L).isEmpty)
    // a mid cap keeps exactly the pairs of surviving buckets
    val sizes = emb.groupBy("label").count().as[(String, Long)].collect().toMap
    val mid = sizes.values.toSeq.sorted.apply(sizes.size / 2)
    val capped = Similarity.nearDupPairs(emb, "vec_id", "embedding", "label", 200000L,
      maxBucket = mid).as[(Long, Long, Long)].collect().toSet
    val surviving = emb.filter(col("label").isin(
        sizes.filter(_._2 <= mid).keys.toSeq.map(x => x: Any): _*))
    val expect = Similarity.nearDupPairs(surviving, "vec_id", "embedding", "label", 200000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == expect && capped.size < uncapped.size)
  }

  test("decontaminate drops exactly the train docs sharing an n-gram with the eval set") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),      // shares 'beta gamma delta' run
      (2L, "one two three four five six"),          // clean
      (3L, "the secret eval answer is forty two"),  // verbatim leak
      (4L, "short")                                 // < n tokens: full-text key, clean
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "zz beta gamma delta yy"),
      (101L, "the secret eval answer is forty two indeed")).toDF("eid", "text")
    val kept = Dedup.decontaminate(train, "doc_id", "text", eval, "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L), kept.mkString(","))
    // a short train doc equal to a short eval doc is caught via the
    // whole-text shingle
    val kept2 = Dedup.decontaminate(
      Seq((9L, "short")).toDF("doc_id", "text"), "doc_id", "text",
      Seq((200L, "short")).toDF("eid", "text"), "text", n = 3)
    assert(kept2.isEmpty)
  }

  test("persisted LSH index: self-probe reproduces the self-join pairs; near-dup batch filters") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").cache()
    val path = java.nio.file.Files.createTempDirectory("lshidx").toString
    LshIndex.build(docs, "doc_id", "text", path)
    // probing the reference against its own index = the self-join's
    // candidate universe (same surviving-bucket semantics, both
    // directions of each pair)
    val selfProbe = LshIndex.candidates(spark, path, docs, "doc_id", "text")
      .select("doc_inc", "doc_ref").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val selfJoin = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(selfProbe == selfJoin,
      s"extra=${selfProbe.diff(selfJoin).size} missing=${selfJoin.diff(selfProbe).size}")
    // incoming batch: a verbatim copy of an indexed doc must be
    // filtered at est=1.0; a fresh doc must survive
    val sample = docs.orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("text")).as[(Long, String)].head()
    val incoming = Seq((900001L, sample._2), (900002L, "a genuinely fresh document body xyz"))
      .toDF("doc_id", "text")
    val kept = LshIndex.filterNew(spark, path, incoming, "doc_id", "text", minEstFp4 = 10000L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(900002L), kept.mkString(","))
    // the copy's agreement estimate is exactly 1.0 (fp4 = 10000)
    val est = LshIndex.candidates(spark, path, incoming, "doc_id", "text")
      .filter(col("doc_inc") === 900001L && col("doc_ref") === sample._1)
      .select("est_jaccard_fp4").as[Long].head()
    assert(est == 10000L)
    docs.unpersist()
  }

  test("minhashEstPairs carries signatures: same pairs, est=1 for identical docs") {
    val docs = ((1 to 10).map(i => (i.toLong, s"unique doc number $i with filler words ${i * 7}")) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog today"),
          (101L, "the quick brown fox jumps over the lazy dog today"))).toDF("doc_id", "text")
    val est = Dedup.minhashEstPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text").as[(Long, Long)].collect().toSet
    assert(est.map(e => (e._1, e._2)).toSet == pairs)
    assert(est.find(e => e._1 == 100L && e._2 == 101L).exists(_._3 == 10000L))
  }

  test("bbitMinhashEstPairs obeys the Li-König correction law vs the full estimator") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val bb = Dedup.bbitMinhashEstPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect()
    val full = Dedup.minhashEstPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(e => (e._1, e._2) -> e._3).toMap
    assert(bb.map(e => (e._1, e._2)).toSet == full.keySet, "same candidate pairs")
    bb.foreach { case (a, b, agree2, est2, estFull) =>
      assert(estFull == full((a, b)), "full-width column equals the 32b estimator")
      // truncation can only inflate agreement: equal slots stay equal mod 4
      assert(agree2 >= estFull, s"($a,$b): agree_b2 $agree2 < full $estFull")
      // the correction law, reconstructed exactly (agreement is k/8, k∈0..8)
      val k = math.round(agree2 * 8.0 / 10000.0)
      val want = math.floor(math.max(0.0, (k / 8.0 - 0.25) / 0.75) * 1e4 + 0.5).toLong
      assert(est2 == want, s"($a,$b): est_b2 $est2 != law $want (k=$k)")
    }
    // some pair must actually lose information to truncation
    assert(bb.exists(e => e._3 > e._5), "no pair shows chance collisions")
  }

  test("emb_hard_negatives equals brute within-cell triplet selection") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 16)
    val asg = Similarity.ivfAssign(e, "vec_id", "embedding", cents)
      .join(e.select(col("vec_id"), col("label")), col("id") === col("vec_id"))
    val a = asg.select(col("id").as("ia"), col("vec").as("va"), col("cell"), col("label").as("la"))
    val b = asg.select(col("id").as("ib"), col("vec").as("vb"), col("cell"), col("label").as("lb"))
    // cosines from the same engine expression; SELECTION brute-forced in Scala
    val pairs = a.join(b, "cell").filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("la"), col("ib"), col("lb"),
        graft.text.TextAnalysis.fp(Similarity.cosine(col("va"), col("vb")), 6).as("c6"))
      .as[(Long, Int, Long, Int, Long)].collect()
    def best(ps: Seq[(Long, Long)]): Option[(Long, Long)] = // (cos, id) → max cos, tie min id
      if (ps.isEmpty) None else Some(ps.maxBy { case (c, id) => (c, -id) })
    val expect = pairs.groupBy(_._1).map { case (ia, rs) =>
      val neg = best(rs.filter(r => r._4 != r._2).map(r => (r._5, r._3)).toSeq)
      val pos = best(rs.filter(r => r._4 == r._2).map(r => (r._5, r._3)).toSeq)
      (ia, neg.map(_._2), neg.map(_._1), pos.map(_._2), pos.map(_._1),
        for (n <- neg; p <- pos) yield p._1 - n._1)
    }.toSet
    val out = SparkEntry.queries("emb_hard_negatives")(spark, TestSpark.Sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), s"argmax must hash-aggregate:\n$plan")
    def optL(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    val got = out.collect().map(r => (r.getLong(0), optL(r, 1), optL(r, 2),
      optL(r, 3), optL(r, 4), optL(r, 5))).toSet
    assert(got == expect, "hard-negative triplet selection")
    assert(got.exists(_._6.exists(_ < 0)), "no negative-margin anchor — selection untested at the boundary")
  }

  test("minhash est computes the signature pipeline once (single scan, reused exchange)") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // the 100 TB shape: no broadcastable side — every banded consumer
      // must collapse onto ONE shuffled scan via AQE stage reuse, so the
      // md5-per-shingle signature pipeline runs exactly once
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Dedup.minhashEstPairs(docs, "doc_id", "text")
      df.collect() // AQE stage reuse happens at runtime — inspect the FINAL plan
      // executedPlan.toString prints the final plan FOLLOWED BY the
      // pre-adaptive initial plan; count scans only in the final section
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val scans = plan.sliding("Scan parquet".length).count(_ == "Scan parquet")
      assert(plan.contains("ReusedExchange") || plan.contains("reuses"),
        s"no exchange reuse in final plan:\n$plan")
      assert(scans <= 2, s"expected <=2 parquet scans after reuse, got $scans:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("simhash is equal for identical text, long-typed 32-bit") {
    val hs = Seq((1L, "spark native analytics engine"), (2L, "spark native analytics engine"), (3L, "zzz yyy xxx"))
      .toDF("id", "text").select(Dedup.simhash32(col("text"))).as[Long].collect()
    assert(hs(0) == hs(1))
    assert(hs.forall(h => h >= 0 && h <= 0xffffffffL))
    assert(hs(0) != hs(2))
  }

  test("native simhash is bit-identical to the 32-fold HOF twin on real data") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val both = docs.select(col("doc_id"),
        Dedup.simhash32Native(col("text")).as("nat"),
        Dedup.simhash32(col("text")).as("hof"))
      .as[(Long, Long, Long)].collect()
    assert(both.nonEmpty)
    assert(both.forall { case (_, nat, hof) => nat == hof })
    // empty text: no tokens → all bit sums 0 → signature 0 on both paths
    val empty = Seq((1L, "")).toDF("doc_id", "text")
      .select(Dedup.simhash32Native(col("text")), Dedup.simhash32(col("text")))
      .as[(Long, Long)].head()
    assert(empty == ((0L, 0L)))
  }

  test("native simhash64 is bit-identical to the 64-fold HOF twin on real data") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val both = docs.select(col("doc_id"),
        Dedup.simhash64Native(col("text")).as("nat"),
        Dedup.simhash64(col("text")).as("hof"))
      .as[(Long, Long, Long)].collect()
    assert(both.nonEmpty)
    assert(both.forall { case (_, nat, hof) => nat == hof })
    // the 64-bit signature actually uses the upper word (some doc sets
    // the sign or a bit above 31) — otherwise it's just simhash32
    assert(both.exists { case (_, nat, _) => (nat >>> 32) != 0 })
    val empty = Seq((1L, "")).toDF("doc_id", "text")
      .select(Dedup.simhash64Native(col("text")), Dedup.simhash64(col("text")))
      .as[(Long, Long)].head()
    assert(empty == ((0L, 0L)))
  }

  test("simhash64 pairs find identical docs at hamming 0, not disjoint docs") {
    val docs = ((1 to 15).map(i => (i.toLong, s"totally distinct document payload $i ${i * 31}")) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog today"),
          (101L, "the quick brown fox jumps over the lazy dog today"))).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs64(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 100L && p._2 == 101L && p._3 == 0))
    // 16-bit bands: unrelated docs must not collide into pairs here
    assert(pairs.forall(p => p._3 <= 3))
    // degenerate maxHamming = 0: ONE band of all 64 bits. `(1L<<64)-1`
    // is 0 under JVM mod-64 shifts — the unfixed mask collapsed every
    // key to one over-cap bucket and silently returned zero pairs
    val exact = Dedup.simhashPairs64(docs, "doc_id", "text", maxHamming = 0)
      .as[(Long, Long, Int)].collect()
    assert(exact.contains((100L, 101L, 0)))
    assert(exact.forall(_._3 == 0))
  }

  test("dedupAgainstBloom is exactly dedupAgainst (no false negatives) on real docs") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val ref = docs.filter(col("doc_id") % 5 =!= 0)
    val inc = docs.filter(col("doc_id") % 3 === 0)
    val exact = Dedup.dedupAgainst(inc, ref, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.dedupAgainstBloom(inc, ref, "doc_id", "text", fpp = 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom == exact, "bloom pre-filter changed the result")
    // planted exact duplicate must be dropped even at a sloppy fpp
    val r2 = Seq((1L, "the same payload")).toDF("doc_id", "text")
    val i2 = Seq((2L, "the same payload"), (3L, "a different payload")).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstBloom(i2, r2, "doc_id", "text").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L))
  }

  test("pqEncode picks the true per-subspace argmin code (brute-force check)") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
    val cbRows = cb.as[(Int, Int, Seq[Float])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(cbRows.size == 4 && cbRows.values.forall(_.length == 16))
    val encoded = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .select("id", "sub", "code").as[(Long, Int, Int)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.head._3).toMap
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    assert(encoded.size == vecs.length * 4)
    // brute-force argmin per (vector, subspace)
    vecs.take(60).foreach { case (id, v) =>
      (0 until 4).foreach { s =>
        val x = v.slice(s * 16, s * 16 + 16).map(_.toDouble)
        val best = cbRows(s).map { case (_, code, c) =>
          val d2 = x.zip(c.map(_.toDouble)).map { case (a, b) => (a - b) * (a - b) }.sum
          (d2, code)
        }.min
        assert(encoded((id, s)) == best._2, s"vec $id sub $s")
      }
    }
  }

  test("pqSearch ADC distances equal the brute-force LUT sum (top-k exactness)") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val got = Similarity.pqSearch(enc, cb, queries, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    // scala-side reference: encode + per-query LUT + quantized sums
    val cbM = cb.as[(Int, Int, Seq[Float])].collect()
      .map { case (s, c, v) => (s, c) -> v.map(_.toDouble) }.toMap
    val encM = enc.select("id", "sub", "code").as[(Long, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val qs = queries.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def fp6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    def d2(x: Seq[Double], c: Seq[Double]): Double = {
      val xx = x.foldLeft(0.0)((a, v) => a + v * v)
      val xc = x.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2)
      val cc = c.foldLeft(0.0)((a, v) => a + v * v)
      xx - 2.0 * xc + cc
    }
    qs.foreach { case (qid, qv) =>
      val expected = encM.collect { case (id, codes) if id != qid =>
        id -> (0 until 4).map(s => fp6(d2(qv.slice(s * 16, s * 16 + 16).map(_.toDouble), cbM((s, codes(s)))))).sum
      }.toSeq.sortBy(r => (r._2, r._1)).take(3)
      val actual = got(qid).sortBy(r => (r._3, r._2)).map(r => r._2 -> r._3).toSeq
      assert(actual == expected, s"query $qid")
    }
  }

  test("topKPerQuery equals the bare per-query window (salted two-stage exactness)") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("id"),
        graft.text.TextAnalysis.fp(Similarity.cosine(col("embedding"), col("qvec")), 6).as("cos_fp6"))
    val order = Seq(col("cos_fp6").desc, col("id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id").orderBy(order: _*)
    val bare = scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 7).drop("rk")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // fanout 1 (degenerate: one salt group == the bare window), a
    // mid fanout, and 0 (session default) must all be bit-identical
    Seq(1, 4, 0).foreach { f =>
      val got = Similarity.topKPerQuery(scored, 7, order, fanout = f)
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got == bare, s"fanout=$f")
    }
    // plan shape: ranking is two windows, stage 1 salted — the
    // per-query corpus-sized single-task sort is gone
    val plan = Similarity.topKPerQuery(scored, 7, order).queryExecution.optimizedPlan.toString
    assert(plan.contains("_salt"), s"no salted stage in plan:\n$plan")
  }

  test("pqIvfSearch degenerates to pqSearch at nprobe=all; partial probe is a bounded subset") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb).cache()
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val nCells = cents.count().toInt
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents).cache()
    val k = 5
    val full = Similarity.pqSearch(enc, cb, queries, "vec_id", "embedding", k = k)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    // probing every cell covers the whole corpus → exactly the ADC scan
    val all = Similarity.pqIvfSearch(enc, cb, assigned, cents, queries, "vec_id", "embedding",
      nprobe = nCells, k = k).as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(all == full)
    // nprobe=2: every returned distance must equal the full ADC
    // distance for that pair (pruning only shrinks the candidate set)
    val adc = Similarity.pqSearch(enc, cb, queries, "vec_id", "embedding", k = 1000000)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val partial = Similarity.pqIvfSearch(enc, cb, assigned, cents, queries, "vec_id", "embedding",
      nprobe = 2, k = k).as[(Long, Long, Long)].collect()
    assert(partial.nonEmpty)
    partial.groupBy(_._1).foreach { case (qid, rows) => assert(rows.length <= k, s"query $qid") }
    partial.foreach { case (qid, id, d) => assert(adc((qid, id)) == d, s"($qid,$id)") }
    // recall vs the full ADC top-k — same sanity bar as the IVF spec
    val truth = full.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = partial.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = truth.map { case (qid, t) => got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size }
    assert(recall.sum / recall.size > 0.2, s"nprobe=2 mean recall ${recall.sum / recall.size}")
    enc.unpersist(); assigned.unpersist()
  }

  test("persisted IVF index: pruned probe search matches in-memory ivfSearch, scan is partition-pruned") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val nCells = IvfIndex.build(emb, "vec_id", "embedding", kCells = 8, path = path)
    assert(nCells >= 2)
    // served results == in-memory search (same centroids, same math)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val mem = Similarity.ivfSearch(assigned, queries, "vec_id", "embedding", cents, nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    val served = IvfIndex.search(spark, path, queries, "vec_id", "embedding", nprobe = 2, k = 5)
    val got = served.as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(got == mem)
    // the vectors scan must prune to the probed cells at listing time
    val scan = served.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [cell"), s"no partition filter on the index scan:\n$scan")
    // probing only one cell must READ fewer files than the index holds
    // (post-execution scan metric — inputFiles ignores filters)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
      }.get
    }
    val allFiles = filesRead(spark.read.parquet(s"$path/vectors"))
    val oneCell = assigned.select(min("cell")).as[Long].head()
    val prunedFiles = filesRead(
      spark.read.parquet(s"$path/vectors").filter(col("cell").isin(Long.box(oneCell))))
    assert(prunedFiles < allFiles, s"pruned=$prunedFiles all=$allFiles")

    // IVF-PQ at rest: persisted codes served through the same pruned
    // probe must equal the in-memory pqIvfSearch composition
    IvfIndex.buildPq(emb, "vec_id", "embedding", dim = 64, m = 4, kCodes = 16, path = path)
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val memPq = Similarity.pqIvfSearch(enc, cb, assigned, cents, queries, "vec_id", "embedding",
        nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    val servedPq = IvfIndex.searchPq(spark, path, queries, "vec_id", "embedding", nprobe = 2, k = 5)
    val gotPq = servedPq.as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(gotPq == memPq)
    assert(servedPq.queryExecution.executedPlan.toString.contains("PartitionFilters: [cell"))

    // retrieve→rerank at rest: the persisted-index two-stage search
    // must equal the in-memory pqIvfRerank composition bit-for-bit,
    // and BOTH its scans (codes for ADC, vectors for the exact
    // rescore) must partition-prune to the probed cells
    val memRr = Similarity.pqIvfRerank(enc, cb, assigned, cents, queries,
        "vec_id", "embedding", emb, nprobe = 2, kCand = 10, k = 5)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val servedRr = IvfIndex.searchRerank(spark, path, queries, "vec_id", "embedding",
      nprobe = 2, kCand = 10, k = 5)
    val gotRr = servedRr.as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(gotRr == memRr)
    val rrPlan = servedRr.queryExecution.toString
    val nPruned = "PartitionFilters: \\[cell".r.findAllIn(rrPlan).length
    assert(nPruned >= 2, s"expected both codes+vectors scans cell-pruned:\n$rrPlan")
  }

  test("incremental IVF append: half-built index + appended half serves like one index") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet").cache()
    val first = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val path = java.nio.file.Files.createTempDirectory("ivfinc").toString
    IvfIndex.build(first, "vec_id", "embedding", kCells = 8, path = path)
    val appended = IvfIndex.append(rest, "vec_id", "embedding", path)
    assert(appended == rest.count())
    // served results must equal the in-memory search over the FULL
    // corpus assigned against the half-built (frozen) centroids
    val cents = Similarity.ivfCentroids(first, "vec_id", "embedding", 8)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val mem = Similarity.ivfSearch(assigned, queries, "vec_id", "embedding", cents, nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    val got = IvfIndex.search(spark, path, queries, "vec_id", "embedding", nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(got == mem)
    // the PQ layer must not go stale on append: rebuild the index with
    // a codebook, append the second half, and searchPq must equal the
    // in-memory IVF-PQ composition over the FULL corpus with the
    // frozen (half-built) centroids and codebook
    val path2 = java.nio.file.Files.createTempDirectory("ivfincpq").toString
    IvfIndex.build(first, "vec_id", "embedding", kCells = 8, path = path2)
    IvfIndex.buildPq(first, "vec_id", "embedding", dim = 64, m = 4, kCodes = 16, path = path2)
    IvfIndex.append(rest, "vec_id", "embedding", path2)
    val cb = Similarity.pqCodebook(first, "vec_id", "embedding", dim = 64, m = 4, k = 16)
    val encAll = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val memPq = Similarity.pqIvfSearch(encAll, cb, assigned, cents, queries,
        "vec_id", "embedding", nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    val gotPq = IvfIndex.searchPq(spark, path2, queries, "vec_id", "embedding", nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(gotPq == memPq)
    // drift signal + scheduled blue/green re-centering: the rebuilt
    // index serves results matching an in-memory search that uses the
    // SAME persisted (refined) centroid table
    assert(IvfIndex.skewRatio(spark, path) >= 1.0)
    val dest = java.nio.file.Files.createTempDirectory("ivfrec").toString
    val newCells = IvfIndex.recenter(spark, path, dest, kCells = 8, iters = 2)
    assert(newCells >= 2)
    val cents2 = IvfIndex.readCentroids(spark, dest)
    val assigned2 = Similarity.ivfAssign(emb, "vec_id", "embedding", cents2)
    val mem2 = Similarity.ivfSearch(assigned2, queries, "vec_id", "embedding", cents2, nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    val got2 = IvfIndex.search(spark, dest, queries, "vec_id", "embedding", nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(got2 == mem2)
    emb.unpersist()
  }

  test("IVF index crash safety: probes serve the committed prefix read-only, writer entries heal, torn build refuses") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet").cache()
    val first = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val path = java.nio.file.Files.createTempDirectory("ivftorn").toString
    IvfIndex.build(first, "vec_id", "embedding", kCells = 8, path = path)
    IvfIndex.buildPq(first, "vec_id", "embedding", dim = 64, m = 4, kCodes = 16, path = path)
    assert(IvfIndex.isComplete(spark, path, pq = true))

    // simulate an append that died AFTER committing vectors/ but
    // BEFORE the codes append: replay append's committed prefix by
    // hand (marker up, vectors landed, codes never written)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_append_pending")
    fs.create(marker, true).close()
    val cents = IvfIndex.readCentroids(spark, path)
    Similarity.ivfAssign(rest, "vec_id", "embedding", cents)
      .select(col("id"), col("vec"), col("nrm"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
    // a stranded append marker does not demand a rebuild...
    assert(IvfIndex.isComplete(spark, path, pq = true))
    // ...and a PROBE must serve the COMMITTED PREFIX without healing:
    // codes-driven candidates exclude the un-coded batch (it never
    // committed, from the probe's point of view), and the probe
    // writes NOTHING — a reader healing here would race a live
    // appender and land duplicate (id, sub) code rows that double ADC
    // distances (the advisor's multi-job serving scenario)
    val cb = Similarity.pqCodebook(first, "vec_id", "embedding", dim = 64, m = 4, k = 16)
    def memPqOf(corpus: org.apache.spark.sql.DataFrame) = {
      val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
      val asg = Similarity.ivfAssign(corpus, "vec_id", "embedding", cents)
      Similarity.pqIvfSearch(enc, cb, asg, cents, queries,
          "vec_id", "embedding", nprobe = 2, k = 5)
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    }
    val codesBefore = spark.read.parquet(s"$path/codes").count()
    val duringTorn = IvfIndex.searchPq(spark, path, queries, "vec_id", "embedding", nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(duringTorn == memPqOf(first), "probe under a pending append must serve the committed prefix")
    assert(fs.exists(marker), "a probe must NOT heal (reader entry points are read-only)")
    assert(spark.read.parquet(s"$path/codes").count() == codesBefore,
      "a probe must not write code rows")

    // the next WRITER entry heals: retrying the batch re-encodes the
    // missing codes (vectors committed first; codes are a pure
    // function of vectors × the frozen codebook) and the appended
    // vectors become candidates instead of being silently missing —
    // while the retry itself anti-joins away as already resident
    val memPq = memPqOf(emb)
    assert(IvfIndex.append(rest, "vec_id", "embedding", path) == 0L)
    assert(!fs.exists(marker), "writer entry must clear _append_pending")
    val healed = IvfIndex.searchPq(spark, path, queries, "vec_id", "embedding", nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(healed == memPq)
    // no duplicate (id, sub) code rows after the heal
    val codesAll = spark.read.parquet(s"$path/codes")
    assert(codesAll.count() == codesAll.select("id", "sub").distinct().count(),
      "heal must not produce duplicate (id, sub) code rows")

    // idempotency: retrying the same batch again still ingests nothing
    assert(IvfIndex.append(rest, "vec_id", "embedding", path) == 0L)
    val after = IvfIndex.searchPq(spark, path, queries, "vec_id", "embedding", nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(after == memPq)

    // a stranded BUILD marker is not healable in place: every serving
    // entry refuses loudly, isComplete reports rebuild-needed, and a
    // completed rebuild clears it
    val bm = new org.apache.hadoop.fs.Path(s"$path/_build_pending")
    fs.create(bm, true).close()
    assert(!IvfIndex.isComplete(spark, path))
    val ex = intercept[IllegalStateException] {
      IvfIndex.search(spark, path, queries, "vec_id", "embedding", nprobe = 2, k = 5)
    }
    assert(ex.getMessage.contains("_build_pending"))
    IvfIndex.build(emb, "vec_id", "embedding", kCells = 8, path = path)
    assert(IvfIndex.isComplete(spark, path))
    emb.unpersist()
  }

  test("annLsh multi-probe raises recall over single-probe; bucket cap bounds candidates") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val k = 5
    // brute-force ground truth per query
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("cos_fp6").desc, col("vec_id"))
    val truth = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_fp6", graft.text.TextAnalysis.fp(Similarity.cosine(col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("qid", "vec_id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(res: Map[Long, Set[Long]]): Double =
      truth.map { case (qid, t) => res.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size }.sum / truth.size
    def run(nprobe: Int): Map[Long, Set[Long]] =
      Similarity.annLsh(emb, queries, "vec_id", "embedding", numPlanes = 6, dim = 64, k = k, nprobe = nprobe)
        .select("query_id", "id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val single = run(0)
    val multi = run(3)
    assert(recall(multi) >= recall(single))
    assert(multi.map(_._2.size).sum >= single.map(_._2.size).sum)
    // cap of 0 drops every bucket → empty result (the guard engages)
    val capped = Similarity.annLsh(emb, queries, "vec_id", "embedding",
      numPlanes = 6, dim = 64, k = k, maxBucket = 0L).count()
    assert(capped == 0)
  }

  test("ngram jaccard self-join reuses one shuffled scan when not broadcast (scale plan)") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at 100 TB AQE will not broadcast the shingle table; the SMJ's two
      // sides must then collapse to one scan + one exchange via reuse
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.05)
      df.collect() // AQE performs stage reuse at runtime — inspect the FINAL plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange") || plan.contains("reuses"),
        s"no exchange/stage reuse in final plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ngram jaccard finds near-duplicates, not disjoint docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("IVF search equals exact top-k restricted to probed cells, with sane recall") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val k = 5
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents).cache()
    val ivf = Similarity.ivfSearch(assigned, queries, "vec_id", "embedding", cents, nprobe = 8, k = k)
      .select("query_id", "id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // nprobe == #cells → IVF degenerates to exact brute force: recall 1
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("cos_fp6").desc, col("vec_id"))
    val brute = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_fp6", graft.text.TextAnalysis.fp(Similarity.cosine(col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("qid", "vec_id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ivf == brute)
    // partial probe: a strict subset of the work, still returns k rows per query
    val partial = Similarity.ivfSearch(assigned, queries, "vec_id", "embedding", cents, nprobe = 2, k = k)
      .select("query_id", "id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = brute.map { case (qid, t) => partial.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size }
    assert(recall.sum / recall.size > 0.2, s"nprobe=2 mean recall ${recall.sum / recall.size}")
    assigned.unpersist()
  }

  test("k-means-refined IVF still degrades to exact search at nprobe=all") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, iters = 2).cache()
    val nCells = cents.count().toInt
    assert(nCells >= 2 && nCells <= 8)
    assert(cents.select(size(col("cvec"))).as[Int].collect().forall(_ == 64))
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val ivf = Similarity.ivfSearch(assigned, queries, "vec_id", "embedding", cents, nprobe = nCells, k = 3)
      .select("query_id", "id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("cos_fp6").desc, col("vec_id"))
    val brute = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_fp6", graft.text.TextAnalysis.fp(Similarity.cosine(col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ivf == brute)
    cents.unpersist()
  }

  test("connectedComponents star fallback labels a 200-node chain") {
    // worst case for label propagation: one long chain (diameter 199);
    // near-dup graphs only look like this when duplicates form
    // transitive runs, but correctness must not depend on shape
    val n = 200
    val nodes = (1 to n).map(_.toLong).toDF("id")
    val chain = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    // the driver union-find fast path (the default at this size)
    val fast = Dedup.connectedComponents(nodes, "id", chain, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(fast.size == n && fast.values.forall(_ == 1L), "chain must collapse to component 1")
    // maxDriverEdges = 0 forces the distributed large-star/small-star
    // path, at the default maxIter
    val star = Dedup.connectedComponents(nodes, "id", chain, "a", "b", maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(star == fast)
    // Int ids keep an IntegerType component column on that path
    val intStar = Dedup.connectedComponents((1 to n).toDF("id"), "id",
        (1 until n).map(i => (i, i + 1)).toDF("a", "b"), "a", "b", maxDriverEdges = 0)
    assert(intStar.schema("component").dataType == org.apache.spark.sql.types.IntegerType)
    assert(intStar.as[(Int, Int)].collect().toMap == fast.map { case (k, v) => k.toInt -> v.toInt })
    // a second component, an isolated node, and non-integral ids
    val iso = Dedup.connectedComponents(Seq(1L, 2L, 5L, 7L, 99L).toDF("id"), "id",
        Seq((1L, 2L), (7L, 5L)).toDF("a", "b"), "a", "b", maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(iso == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 5L, 99L -> 99L))
    val str = Dedup.connectedComponents(Seq("b", "a", "c").toDF("id"), "id",
        Seq(("b", "a")).toDF("a", "b"), "a", "b")
      .as[(String, String)].collect().toMap
    assert(str == Map("a" -> "a", "b" -> "a", "c" -> "c"))
  }

  test("connectedComponents on string ids checkpoints no edge list for a driver probe it skips") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val ids = (1 to 12).map(i => f"n$i%02d")
    val group = "graft_cc_string_chain"
    val inGroup = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) inGroup.add(e.jobId)
        seen.add(e.jobId)
      }
    }
    sc.addSparkListener(listener)
    val labels = try {
      sc.setJobGroup(group, "connectedComponents over a string-id chain")
      try Dedup.connectedComponents(ids.toDF("id"), "id", ids.zip(ids.tail).toDF("a", "b"), "a", "b")
        .as[(String, String)].collect().toMap
      finally sc.clearJobGroup()
    } finally {
      // listener events arrive in job order: once a later marker job
      // is seen, every job of the run has been counted
      val marker = sc.parallelize(Seq(1), 1).countAsync()
      marker.get()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker.jobIds.head) && System.nanoTime() < deadline) Thread.sleep(10)
      sc.removeSparkListener(listener)
    }
    assert(labels == ids.map(_ -> "n01").toMap)
    // string ids never take the driver probe, so the only materialized
    // edge sets are the star path's own checkpoints: 52 jobs at local[4]
    // with 4 shuffle partitions, one more if the symmetric edge list
    // were checkpointed for the skipped probe
    assert(inGroup.size == 52, s"jobs: ${inGroup.size}")
  }

  test("cosine of identical vectors is 1") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val c = df.select(Similarity.cosine(col("v"), col("v"))).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("ANN-LSH equals brute-force top-k restricted to the same bucket") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val k = 5
    val planes = 4
    val ann = Similarity.annLsh(emb, queries, "vec_id", "embedding", numPlanes = planes, dim = 64, k = k)
      .select("query_id", "id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // ground truth: per query, exact top-k among SAME-BUCKET candidates —
    // this is the operator's contract (the recall/bucket tradeoff is a
    // parameter choice, not correctness)
    val bucketed = emb
      .select(col("vec_id"), col("embedding"), Similarity.lshBucket(col("embedding"), planes, 64).as("bucket"))
    val q = bucketed.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col("bucket"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("cos_fp6").desc, col("vec_id"))
    val truth = bucketed.join(q, "bucket").filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_fp6", graft.text.TextAnalysis.fp(Similarity.cosine(col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("qid", "vec_id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ann == truth)
    assert(ann.nonEmpty && ann.values.exists(_.nonEmpty))
  }

  test("keepBest keeps the highest-score doc per cluster, ties to smallest id, singletons survive") {
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (9L, 7L))
      .toDF("doc_id", "score")
    // cluster {1,2,3} (chain), cluster {4}, singleton 9 (no edges)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.keepBest(docs, "doc_id", "score", edges, "doc_a", "doc_b")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // ties on score 30 between docs 2 and 3 -> smallest id (2) wins
    assert(out.toSeq == Seq((1L, 2L, 30L, 3L), (4L, 4L, 5L, 1L), (9L, 9L, 7L, 1L)))
  }

  test("dedupAgainst drops incoming docs whose content hash exists in the reference") {
    val reference = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val incoming = Seq((10L, "alpha"), (11L, "gamma"), (12L, "beta"), (13L, "delta"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupAgainst(incoming, reference, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("LshIndex append: incrementally-grown index is rebuild-equivalent (both cap branches)") {
    def bandedSet(path: String): Set[(Long, Int, String)] =
      spark.read.parquet(LshIndex.bandedDir(spark, path)).select("doc", "band", "key")
        .as[(Long, Int, String)].collect().toSet
    def pairSet(path: String, probe: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      LshIndex.candidates(spark, path, probe, "doc_id", "text")
        .as[(Long, Long, Long)].collect().toSet

    // branch 1: cap value unchanged → partial group recompute
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    val first = docs.filter(col("doc_id") % 5 =!= 0)
    val rest = docs.filter(col("doc_id") % 5 === 0)
    val base = java.nio.file.Files.createTempDirectory("lshidx").toString
    LshIndex.build(docs, "doc_id", "text", s"$base/full", numGroups = 32)
    LshIndex.build(first, "doc_id", "text", s"$base/inc", numGroups = 32)
    val nAppended = LshIndex.append(rest, "doc_id", "text", s"$base/inc")
    assert(nAppended == rest.count())
    assert(bandedSet(s"$base/inc") == bandedSet(s"$base/full"),
      "appended banded rows diverge from a fresh build")
    val probe = docs.filter(col("doc_id") % 7 === 0)
    assert(pairSet(s"$base/inc", probe) == pairSet(s"$base/full", probe))

    // branch 2: corpus growth crosses a √N boundary → the adaptive cap
    // value moves and append must re-band everything (from sigs)
    val big = (1 to 4500).map(i =>
      (i.toLong, s"synthetic doc $i carries words ${i % 97} ${i % 31} ${i % 13} tail$i"))
      .toDF("doc_id", "text")
    val bigFirst = big.filter(col("doc_id") <= 4000)
    val bigRest = big.filter(col("doc_id") > 4000)
    LshIndex.build(big, "doc_id", "text", s"$base/bigfull", numGroups = 32)
    LshIndex.build(bigFirst, "doc_id", "text", s"$base/biginc", numGroups = 32)
    // precondition of the branch: cap(4000)=64 ≠ cap(4500)=67
    assert(math.max(64, math.sqrt(4000).toInt) != math.max(64, math.sqrt(4500).toInt))
    LshIndex.append(bigRest, "doc_id", "text", s"$base/biginc")
    assert(bandedSet(s"$base/biginc") == bandedSet(s"$base/bigfull"),
      "cap-change rebuild diverges from a fresh build")

    // branch 3: CRASH RECOVERY — simulate an append that died after
    // its sigs commit but before banded/config (the worst stranded
    // state: banded behind sigs). A PROBE must serve the committed
    // snapshot READ-ONLY (healing from a reader would race a live
    // appender's banded/ overwrite); the next WRITER entry re-bands
    // from sigs and converges on the fresh build, and retrying the
    // crashed batch is a no-op.
    LshIndex.build(first, "doc_id", "text", s"$base/inc2", numGroups = 32)
    val prefixPairs = pairSet(s"$base/inc2", probe) // the committed snapshot
    spark.read.parquet(s"$base/full/sigs").as("s")
      .join(rest.select(col("doc_id").as("doc")), Seq("doc"), "left_semi")
      .write.mode("append").parquet(s"$base/inc2/sigs")
    val m = new org.apache.hadoop.fs.Path(s"$base/inc2/_append_pending")
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(m, true).close()
    val duringTorn = pairSet(s"$base/inc2", probe)
    assert(fs.exists(m), "a probe must NOT heal (reader entry points are read-only)")
    assert(duringTorn == prefixPairs,
      "probe under a pending append must serve the committed snapshot")
    assert(LshIndex.append(rest, "doc_id", "text", s"$base/inc2") == 0L,
      "retrying the crashed batch must heal, then anti-join away as already indexed")
    assert(!fs.exists(m), "writer entry must clear the pending marker")
    assert(bandedSet(s"$base/inc2") == bandedSet(s"$base/full"),
      "recovered banded layout diverges from a fresh build")
    assert(pairSet(s"$base/inc2", probe) == pairSet(s"$base/full", probe))

    // branch 4: crash INSIDE writeConfig's delete→rename window —
    // config/ deleted, complete config_tmp/ stranded, marker still
    // up. A probe must READ the tmp dir in place (no promotion — a
    // reader mutating the layout is the race all over again); the
    // next writer entry promotes it and heals to a clean layout.
    val cfgP = new org.apache.hadoop.fs.Path(s"$base/inc2/config")
    val tmpP = new org.apache.hadoop.fs.Path(s"$base/inc2/config_tmp")
    assert(fs.rename(cfgP, tmpP), "could not stage the crash state")
    fs.create(m, true).close()
    val during2 = pairSet(s"$base/inc2", probe)
    assert(fs.exists(m) && !fs.exists(cfgP) && fs.exists(tmpP),
      "a probe must read config_tmp in place without promoting it")
    assert(during2 == pairSet(s"$base/full", probe))
    assert(LshIndex.append(rest, "doc_id", "text", s"$base/inc2") == 0L)
    assert(!fs.exists(m) && fs.exists(cfgP) && !fs.exists(tmpP),
      "config-swap crash not healed to a clean layout by the writer entry")
    assert(pairSet(s"$base/inc2", probe) == pairSet(s"$base/full", probe))

    // branch 5: the LEGACY delete+rename layout's mid-swap crash
    // state — banded/ absent, a COMPLETE banded_tmp/ stranded, marker
    // up (an index whose last writer was the pre-generation code). A
    // probe must fall back to the tmp layout (bandedDir) instead of
    // failing on the missing directory; the next writer entry
    // re-bands from sigs into a committed GENERATION dir and the
    // stale tmp is pruned one swap later.
    LshIndex.build(first, "doc_id", "text", s"$base/inc3", numGroups = 32)
    val bP = new org.apache.hadoop.fs.Path(s"$base/inc3/banded")
    val btP = new org.apache.hadoop.fs.Path(s"$base/inc3/banded_tmp")
    assert(fs.rename(bP, btP), "could not stage the legacy banded-swap crash state")
    val m3 = new org.apache.hadoop.fs.Path(s"$base/inc3/_append_pending")
    fs.create(m3, true).close()
    val during3 = pairSet(s"$base/inc3", probe)
    assert(fs.exists(m3) && !fs.exists(bP) && fs.exists(btP),
      "a probe must read banded_tmp in place without promoting it")
    assert(during3 == prefixPairs,
      "probe under a mid-swap crash must serve the complete tmp layout")
    assert(LshIndex.append(rest, "doc_id", "text", s"$base/inc3") == rest.count(),
      "recovery must heal the legacy crash, then the batch appends normally")
    assert(!fs.exists(m3) && !fs.exists(bP),
      "legacy crash must heal into a generation layout, not re-create banded/")
    assert(LshIndex.bandedDir(spark, s"$base/inc3") == s"$base/inc3/banded_g1")
    assert(pairSet(s"$base/inc3", probe) == pairSet(s"$base/full", probe))
    assert(bandedSet(s"$base/inc3") == bandedSet(s"$base/full"))

    // branch 6: GENERATION RETENTION — a probe frame resolved before
    // a full re-band keeps its files through ONE swap (the previous
    // generation is retained); only a second swap prunes it. Stranded
    // markers force pure recovery re-bands (append of already-indexed
    // docs is otherwise a no-op).
    val preFrame = LshIndex.candidates(spark, s"$base/inc3", probe, "doc_id", "text")
    val expected = preFrame.count() // resolves + lists banded_g1 now
    fs.create(m3, true).close()
    assert(LshIndex.append(rest, "doc_id", "text", s"$base/inc3") == 0L) // swap → g2
    assert(LshIndex.bandedDir(spark, s"$base/inc3") == s"$base/inc3/banded_g2")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/inc3/banded_g1")),
      "the immediately previous generation must be retained")
    assert(!fs.exists(btP), "legacy banded_tmp must be pruned once a generation is superseded")
    assert(preFrame.count() == expected,
      "a probe in flight across one full re-band must not lose its part files")
    val midFrame = LshIndex.candidates(spark, s"$base/inc3", probe, "doc_id", "text")
    fs.create(m3, true).close()
    assert(LshIndex.append(rest, "doc_id", "text", s"$base/inc3") == 0L) // swap → g3
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/inc3/banded_g1")),
      "a generation two swaps old must be pruned")
    assert(midFrame.count() == expected,
      "the previous generation must survive the latest swap")
    assert(pairSet(s"$base/inc3", probe) == pairSet(s"$base/full", probe))
    docs.unpersist()
  }

  test("LshIndex streaming ingest: gate per batch, accepted docs extend the index across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("lshing").toString
    val ref = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    LshIndex.build(ref, "doc_id", "text", s"$base/idx", numGroups = 8)
    val input = MemoryStream[(Long, String)]
    val q = LshIndex.ingest(spark, s"$base/idx",
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      minEstFp4 = 5000L, outPath = s"$base/out",
      checkpoint = Some(s"$base/cp"))
    try {
      // batch 1: a near-dup of the indexed ref (drop) + a novel doc (keep)
      input.addData((10L, "the quick brown fox jumps over the lazy dog today"),
        (11L, "completely different payload about spark executors and shuffles"))
      q.processAllAvailable()
      // batch 2: a near-dup of batch 1's ACCEPTED doc — only dropped
      // because ingestion folded doc 11 into the index
      input.addData((12L, "completely different payload about spark executors and shuffles"),
        (13L, "yet another novel document mentioning parquet file footers"))
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$base/out").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(11L, 13L), s"kept $kept")
    } finally q.stop()
  }

  test("scheduled re-centering: skew threshold triggers a blue/green rebuild and pointer flip") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("ivfmaint").toString
    val blue = s"$base/blue"; val green = s"$base/green"; val ptr = s"$base/current"
    IvfIndex.build(emb, "vec_id", "embedding", kCells = 8, path = blue)
    IvfIndex.flipPointer(spark, ptr, blue)
    assert(IvfIndex.readPointer(spark, ptr) == blue)
    val skew = IvfIndex.skewRatio(spark, blue)
    // under threshold: no-op, pointer untouched
    val (s1, flipped1) = IvfIndex.recenterIfSkewed(spark, ptr, green, kCells = 8, threshold = skew + 1)
    assert(!flipped1 && s1 == skew && IvfIndex.readPointer(spark, ptr) == blue)
    // over threshold: rebuild into green, pointer flips, green serves
    val (s2, flipped2) = IvfIndex.recenterIfSkewed(spark, ptr, green, kCells = 8, threshold = skew / 2)
    assert(flipped2 && s2 == skew && IvfIndex.readPointer(spark, ptr) == green)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val served = IvfIndex.search(spark, IvfIndex.readPointer(spark, ptr), queries,
      "vec_id", "embedding", nprobe = 2, k = 3)
    assert(served.count() > 0)
    // flip is idempotent-safe: re-pointing back to blue still serves
    IvfIndex.flipPointer(spark, ptr, blue)
    assert(IvfIndex.readPointer(spark, ptr) == blue)
  }

  test("IvfMaintain main: the cron argv path measures skew, heals stranded appends, flips the pointer, serves equivalently") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("ivfmaincron").toString
    val blue = s"$base/blue"; val green = s"$base/green"; val ptr = s"$base/current"
    IvfIndex.build(emb, "vec_id", "embedding", kCells = 8, path = blue)
    IvfIndex.flipPointer(spark, ptr, blue)
    val skew = IvfIndex.skewRatio(spark, blue)
    // under threshold: a no-op run leaves the pointer on blue
    IvfMaintain.main(Array(ptr, green, "8", (skew + 1).toString))
    assert(IvfIndex.readPointer(spark, ptr) == blue)
    assert(!spark.sparkContext.isStopped, "main must not stop a caller-owned session")
    // strand an append marker on the SERVED index: the maintenance
    // run is the designated healer (probes are read-only since the
    // reader/writer split), so the cron entry must clear it
    val fs = new org.apache.hadoop.fs.Path(blue)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$blue/_append_pending")
    fs.create(marker, true).close()
    // over threshold: heal, rebuild into green, flip
    IvfMaintain.main(Array(ptr, green, "8", (skew / 2).toString, "2"))
    assert(!fs.exists(marker), "maintenance run must heal the stranded append marker")
    assert(IvfIndex.readPointer(spark, ptr) == green)
    // post-flip serve equivalence: the pointer-resolved index answers
    // exactly like an in-memory search over the SAME rebuilt centroids
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val cents = IvfIndex.readCentroids(spark, green)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val mem = Similarity.ivfSearch(assigned, queries, "vec_id", "embedding", cents, nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    val served = IvfIndex.search(spark, IvfIndex.readPointer(spark, ptr), queries,
        "vec_id", "embedding", nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(served == mem, "pointer-resolved serve diverges from the rebuilt index")
  }

  test("pqIvfSearch over cell-carrying codes prunes on cell and never reads the (id,cell) index") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents).cache()
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
    // legacy layout: codes without cell → pruned via the (id, cell) index
    val encPlain = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val legacy = Similarity.pqIvfSearch(encPlain, cb, assigned, cents, queries,
        "vec_id", "embedding", nprobe = 2, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    // cell-carrying layout: encode the ASSIGNED frame (IvfIndex.buildPq
    // at-rest shape); `assigned` is passed as null — the probe must be
    // a direct cell equi-join that never touches it (an id join-back
    // would NPE here)
    val encCell = Similarity.pqEncode(
      assigned.select(col("id").as("vec_id"), col("vec").as("embedding"), col("cell")),
      "vec_id", "embedding", cb, carry = Seq("cell"))
    assert(encCell.columns.contains("cell"))
    val direct = Similarity.pqIvfSearch(encCell, cb, null, cents, queries,
      "vec_id", "embedding", nprobe = 2, k = 5)
    val got = direct.as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3, r._2)).toSeq
    assert(got == legacy, "cell-pruned path diverged from the id-index path")
    // plan shape: the codes side joins on cell (the prune), and no
    // join condition equates two id columns before aggregation — the
    // corpus-wide id shuffle of the legacy path is gone
    val joins = direct.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.condition.map(_.sql).getOrElse("")
    }
    assert(joins.exists(_.contains("cell")), s"no cell join in:\n$joins")
    assert(!joins.exists(c => c.contains("id") && !c.contains("query_id") && !c.contains("cell")),
      s"unexpected id-only join in:\n$joins")
    assigned.unpersist()
  }

  test("trained PQ codebook lowers distortion and raises recall on the real corpus") {
    // measured on the REAL embeddings table, not a planted-cluster toy:
    // a perfectly-memorizable planting (protos ≤ k) makes Lloyd
    // converge to the cluster means, every cluster-mate reconstructs
    // identically, ADC ties within clusters, and recall INVERTS — the
    // classic over-trained degenerate. On a broad corpus lower
    // distortion ⇒ better ADC ranking fidelity, the claim that
    // matters: here distortion drops ~30% and recall@5 nearly doubles
    // (0.10 → 0.18 at m=4, k=16). Deterministic data ⇒ stable bars.
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet").cache()
    val stride = Similarity.pqCodebook(emb, "vec_id", "embedding", 64, m = 4, k = 16)
    val trained = Similarity.pqCodebookTrained(emb, "vec_id", "embedding", 64, m = 4, k = 16, iters = 3)
    def distortion(cb: org.apache.spark.sql.DataFrame): Long =
      Similarity.pqEncode(emb, "vec_id", "embedding", cb)
        .agg(sum("d2_fp6")).as[Long].head()
    val dS = distortion(stride)
    val dT = distortion(trained)
    assert(dT < dS, s"trained distortion $dT !< stride $dS")
    // recall@k vs exact L2 top-k (the ADC metric), same bar shape as
    // the LSH recall spec
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val qs = queries.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val all = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0)((s, p) => s + (p._1.toDouble - p._2.toDouble) * (p._1.toDouble - p._2.toDouble))
    val k = 5
    val truth = qs.map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid).map { case (id, v) => (l2(qv, v), id) }.sorted.take(k).map(_._2).toSet
    }.toMap
    def recall(cb: org.apache.spark.sql.DataFrame): Double = {
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      val got = Similarity.pqSearch(enc, cb, queries, "vec_id", "embedding", k = k)
        .as[(Long, Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      truth.map { case (qid, t) => got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size }
        .sum / truth.size
    }
    val rS = recall(stride)
    val rT = recall(trained)
    assert(rT > rS, s"trained recall $rT !> stride recall $rS")
    emb.unpersist()
  }

  test("ivfAssign/pqEncode above the inline cap: constant-footprint path is bit-equal") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet").cache()
    val n = emb.count()
    // force > InlineChainCap centroids (stride pick with a tiny stride)
    val kBig = Similarity.InlineChainCap * 2
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", kBig)
    val nCents = cents.count()
    assert(nCents > Similarity.InlineChainCap, s"need > cap centroids, got $nCents of $n rows")
    val hof = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    // independent argmax oracle: broadcast-join + window rank (the
    // pre-round-7 shape — slow but obviously correct)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("_cos").desc, col("centroid_id"))
    val ref = emb.select(col("vec_id").as("id"), col("embedding").as("vec"),
        Similarity.norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(cents))
      .withColumn("_cos", Similarity.dot(col("vec"), col("cvec")) / (col("nrm") * col("cnrm")))
      .withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
      .select(col("id"), col("centroid_id")).as[(Long, Long)].collect().toMap
    assert(hof == ref, "constant-footprint ivfAssign diverged from the window argmax")
    // pqEncode above the cap: argmin against the brute-force reference
    val cbBig = Similarity.pqCodebook(emb, "vec_id", "embedding", dim = 64, m = 4, k = kBig)
    val kCodes = cbBig.select("code").distinct().count()
    assert(kCodes > Similarity.InlineChainCap, s"need > cap codes, got $kCodes")
    val cbRows = cbBig.as[(Int, Int, Seq[Float])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val encoded = Similarity.pqEncode(emb, "vec_id", "embedding", cbBig)
      .select("id", "sub", "code").as[(Long, Int, Int)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.head._3).toMap
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    vecs.take(40).foreach { case (id, v) =>
      (0 until 4).foreach { s =>
        val x = v.slice(s * 16, s * 16 + 16).map(_.toDouble)
        val best = cbRows(s).map { case (_, code, c) =>
          val xx = x.foldLeft(0.0)((a, t) => a + t * t)
          val xc = x.zip(c.map(_.toDouble)).foldLeft(0.0)((a, p) => a + p._1 * p._2)
          val cc = c.map(_.toDouble).foldLeft(0.0)((a, t) => a + t * t)
          (xx - 2.0 * xc + cc, code)
        }.min
        assert(encoded((id, s)) == best._2, s"vec $id sub $s")
      }
    }
    emb.unpersist()
  }

  test("pqIvfRerank: exact order over the retrieved pool, recall not below raw ADC") {
    import spark.implicits._
    val sf = TestSpark.Sf
    val rerank = SparkEntry.queries("sim_ann_rerank")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val adc = SparkEntry.queries("sim_ann_ivfpq")(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rerank.nonEmpty && adc.nonEmpty)
    // per query: ranks are 1..k and cos_fp6 non-increasing in rank
    rerank.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq, s"query $q ranks")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
        case _ => true
      }, s"query $q not exactly ordered by cosine")
    }
    // recall@5 vs brute force: re-ranking the top-20 ADC pool by TRUE
    // cosine must not be worse than trusting the top-5 ADC order
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).foldLeft(0.0)((s, p) => s + p._1.toDouble * p._2.toDouble)
      val na = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      val nb = math.sqrt(b.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      d / (na * nb)
    }
    val byId = emb.toMap
    def recall(returned: Map[Long, Set[Long]]): Double = {
      val qs = returned.keys.toSeq
      qs.map { q =>
        val truth = emb.filter(_._1 != q)
          .map { case (id, v) => (cos(byId(q), v), id) }
          .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2).toSet
        (returned(q) & truth).size / 5.0
      }.sum / qs.size
    }
    val rr = recall(rerank.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    val ad = recall(adc.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    assert(rr >= ad, s"rerank recall $rr below raw ADC $ad")
    assert(rr > 0.2, s"rerank recall $rr implausibly low")
  }

  test("mrlRecall: full-dim truncation is exact; truncated recall bounded and complete") {
    import spark.implicits._
    val spark2 = spark
    val e = spark2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 50 === 0)
    val out = graft.similarity.Similarity.mrlRecall(
        e, "vec_id", "embedding", q, dims = Seq(16, 64), fullDim = 64, k = 5)
      .as[(Int, Long, Long, Long)].collect()
    val nq = q.count()
    assert(out.length == 2 * nq, s"one row per (dim, query): ${out.length} vs ${2 * nq}")
    // truncating at the full dimension IS the full ranking — recall 1.0
    out.filter(_._1 == 64).foreach { case (_, qid, nHit, r) =>
      assert(nHit == 5L && r == 10000L, s"full-dim recall must be exact (query $qid)") }
    // recall always in [0, 1]; hits in [0, k]
    out.foreach { case (d, qid, nHit, r) =>
      assert(nHit >= 0L && nHit <= 5L && r >= 0L && r <= 10000L, s"dim $d query $qid") }
  }

  test("winnowPairs: embedded run pairs up; unrelated docs don't; frequent-fp guard trims") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"s$i").mkString(" ") // 12 shared tokens >> n+w-1
    val docs = Seq(
      (1L, s"prefix one two $shared tail here"),
      (2L, s"$shared entirely different continuation tokens"),
      (3L, "completely unrelated content with other words only")
    ).toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.winnowPairs(docs, "doc_id", "text",
      n = 3, w = 4, minShared = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.keySet == Set((1L, 2L)), pairs.toString)
    assert(pairs((1L, 2L)) >= 2, "12-token shared run must share >= 2 fingerprints")
    // a fingerprint present in EVERY doc carries no signal: with the
    // guard at maxFpDf=1, nothing can pair
    val none = graft.dedup.Dedup.winnowPairs(docs, "doc_id", "text",
      n = 3, w = 4, minShared = 1, maxFpDf = 1).count()
    assert(none == 0, "df guard at 1 must strip all multi-doc fingerprints")
  }

  test("containmentPairs: embedded doc at 1.0 where Jaccard dilutes below threshold") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"   // 4 3-gram shingles
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, short),                                      // embedded verbatim in 2
      (2L, s"$filler $short"),                          // the wrapper doc
      (3L, "completely different tokens here only")     // unrelated
    ).toDF("doc_id", "text")
    val cont = graft.dedup.Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.9).as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(cont.keySet == Set((1L, 2L)))
    val (_, _, inter, szA, _, contAb, _) = cont((1L, 2L))
    assert(inter == szA && contAb == 10000L, "verbatim embedding must measure 1.0")
    // the same pair is INVISIBLE to Jaccard at any usable bar:
    // |A∩B|/|A∪B| = 4/62 ≈ 0.065
    val jac = graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5).count()
    assert(jac == 0, "Jaccard at 0.5 must miss the embedded pair")
    // symmetric direction: cont_ba is small (the wrapper is not
    // contained in the short doc)
    assert(cont((1L, 2L))._7 < 2000)
  }

  test("dupNgramStats: positional spans, self-repeats, short docs, cross-doc dups") {
    import spark.implicits._
    val eight = "a b c d e f g h"                  // exactly one 8-gram
    val docs = Seq(
      (1L, eight),                                 // dup with doc 2
      (2L, eight),                                 // dup with doc 1
      (3L, "q w e r t y u i"),                     // unique single span
      (4L, s"$eight $eight"),                      // 9 spans; pos 1 and 9 repeat the
                                                   // (a..h) gram (ALSO in docs 1/2),
                                                   // the 7 straddling spans are unique
      (5L, "too short"),                           // < 8 tokens → zero spans
      (6L, "")                                     // empty → zero spans
    ).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.dupNgramStats(docs, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((1L, 1L, 10000L)))          // its one span occurs 4× globally
    assert(out(2L) == ((1L, 1L, 10000L)))
    assert(out(3L) == ((1L, 0L, 0L)))
    assert(out(4L) == ((9L, 2L, 2222L)))           // 2 of 9 spans duplicated; fp4(2/9)
    assert(out(5L) == ((0L, 0L, 0L)))              // surfaced, not dropped
    assert(out(6L) == ((0L, 0L, 0L)))
    // n = 1 degenerates to per-token duplication — every token of doc 4
    // also appears in docs 1/2, so every span is a dup
    val tok = graft.dedup.Dedup.dupNgramStats(docs, "doc_id", "text", n = 1)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(tok(4L) == ((16L, 16L, 10000L)))
    // pure function of the data: partitioning cannot move the counts
    val out7 = graft.dedup.Dedup.dupNgramStats(docs.repartition(7), "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out7 == out)
  }

  test("crossSourceMatrix: exact cells, and a 10^4-doc cluster never materializes pairs") {
    // one boilerplate cluster of 10,000 identical docs spread over 4
    // sources — the naive hash self-join would emit C(10^4,2) ≈ 5×10^7
    // join rows on ONE key. The count-arithmetic plan must keep every
    // operator's output linear in the input.
    val n = 10000L
    val docs = spark.range(n).select(
      lit("boilerplate-hash").as("h"),
      concat(lit("src"), col("id") % 4).as("source"))
    val df = Dedup.crossSourceMatrix(docs, "h", "source")
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // 2500 docs per source: C(2500,2) within, 2500*2500 across
    val within = 2500L * 2499L / 2
    val across = 2500L * 2500L
    (0 to 3).foreach { i =>
      assert(rows((s"src$i", s"src$i")) == within)
      ((i + 1) to 3).foreach(j => assert(rows((s"src$i", s"src$j")) == across))
    }
    assert(rows.size == 10) // 4 diagonal + 6 upper cells
    // plan-metric bound: the pair explosion (if any) shows up as a join
    // operator whose numOutputRows is ~5×10^7 — it is consumed map-side
    // by the next partial agg, so a shuffle-records bound would miss it.
    // Bound EVERY operator's output instead.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allOps(p: SparkPlan): Seq[SparkPlan] = p match {
      case q: QueryStageExec => q +: allOps(q.plan)
      case other => other +: other.children.flatMap(allOps)
    }
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val maxOut = allOps(finalPlan)
      .flatMap(op => op.metrics.get("numOutputRows").map(m => (op.nodeName, m.value)))
      .maxBy(_._2)
    assert(maxOut._2 <= 2 * n,
      s"operator ${maxOut._1} materialized ${maxOut._2} rows — pair explosion")
  }
}
