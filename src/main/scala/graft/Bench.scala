package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times a noop-format write of every registered
  * query (materializes EVERY output column — `count()` would let
  * Catalyst prune projected expressions and under-time map-only
  * queries).
  *
  * Each query runs `SPARK_GRAFT_BENCH_RUNS` times (default 2) inside
  * one JVM and the emitted per-query number is the MIN — this VM's
  * measured noise band is 3-6× per query on a bad tail, so a single
  * run can misstate the repo's cost by 2× (seen in round 2). Two
  * anti-noise measures beyond the min:
  *
  *   - query ORDER is shuffled per run (deterministic seed = run
  *     index), so a query's repeats never execute back-to-back and
  *     order-dependent interference (one query's GC debt or page-cache
  *     eviction billed to the next) decorrelates across runs instead
  *     of hitting the same victim twice;
  *   - a RE-ADJUDICATION pass: after the base runs, any query whose
  *     min still exceeds 2× its pinned `BASELINE_LOCAL.md` row gets
  *     `SPARK_GRAFT_BENCH_EXTRA` (default 2) additional runs — so a
  *     ">2× the baseline" row in the emitted numbers survived
  *     min-of-(runs+extra) and is a real regression, not a noise tail
  *     to re-litigate. Queries without a pinned row (new this round)
  *     are skipped; the extra runs are recorded in the detail file.
  *
  * OUTPUT CONTRACT: the LAST stdout line is a SHORT total-only JSON
  * object that always fits the caller's output tail — at 97+ queries
  * even a 1-decimal per-query map outgrew the tail window and round
  * 7's bench went unparsed (`parsed: null`). The per-query map is
  * printed on the lines BEFORE it: ONE adaptive line (3→2→1 decimals)
  * when it fits `lineBudget`, otherwise a sequence of self-contained
  * `{"metric":"queries_chunk",...}` JSON lines each within budget
  * (round 18's single 1-decimal line hit ~5 KB at 233 queries and
  * truncated mid-JSON in the caller's 2000-char tail — chunked, every
  * surviving tail line parses on its own). Full-precision raw runs go
  * to `target/bench_detail.json`.
  *
  * Failures are never silent: a crashing query records -1 in
  * "queries" and its exception (control-chars stripped — raw Spark
  * analysis messages contain newlines that would break the JSON
  * line) under "errors" instead of an ordinary-looking wall time.
  */
object Bench {
  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\p{Cntrl}]", " ") + "\""

  private def fmt(v: Double, decimals: Int): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(decimals, BigDecimal.RoundingMode.HALF_UP).underlying.stripTrailingZeros.toPlainString

  /** Nearest ancestor of user.dir containing build.sbt — the project
    * root both the baseline read and the detail-JSON write anchor to
    * (ONE walk shared by both, so a future fix can't re-split them). */
  private def repoRoot: Option[java.io.File] = {
    var dir = new java.io.File(System.getProperty("user.dir")).getAbsoluteFile
    while (dir != null) {
      if (new java.io.File(dir, "build.sbt").isFile) return Some(dir)
      dir = dir.getParentFile
    }
    None
  }

  /** Resolve the pinned-baseline file. A relative path is tried
    * against the cwd AND every ancestor containing `build.sbt` —
    * the round-9 run proved the driver's sbt cwd is not always the
    * repo root, which silently starved re-adjudication of every
    * threshold (bench_detail.json showed readjudicated:[] while
    * dd_containment sat at 2.1× its pin). */
  private def resolveBaseline(path: String): Option[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isAbsolute) return Some(f).filter(_.isFile)
    if (f.isFile) return Some(f)
    repoRoot.map(new java.io.File(_, path)).filter(_.isFile)
  }

  /** Pinned per-query rows from BASELINE_LOCAL.md's `| query | sec |`
    * table — the re-adjudication threshold source. Read as EXPLICIT
    * UTF-8: the round-9 no-op's second cause (besides the relative
    * path) was `Source.fromFile`'s default codec — under a POSIX
    * locale Java 17 defaults to US-ASCII, the file's prose contains
    * `±`/`×`/`—`, and the resulting MalformedInputException was
    * swallowed into Map.empty. An unresolvable file, a read error, or
    * zero parsed rows DISABLES the pass; main() prints a loud warning
    * for those cases instead of degrading silently. */
  private def pinnedRows(path: String): Map[String, Double] = {
    val row = """^\|\s*([A-Za-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|\s*$""".r
    // the three failure cases the doc enumerates get DISTINCT messages
    // — the round-9 no-op was misdiagnosed as a path problem for a
    // while precisely because the failure mode wasn't named
    resolveBaseline(path) match {
      case None =>
        System.err.println(s"WARNING: pinned-baseline $path unresolved from ${System.getProperty("user.dir")}")
        Map.empty
      case Some(f) =>
        try {
          val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
          try {
            val m = src.getLines().collect { case row(q, s) => q -> s.toDouble }.toMap
            if (m.isEmpty)
              System.err.println(s"WARNING: pinned-baseline $f resolved but parsed 0 `| query | sec |` rows (table format changed?)")
            m
          } finally src.close()
        } catch {
          case e: Throwable =>
            System.err.println(s"WARNING: pinned-baseline read failed ($f): $e")
            Map.empty
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val nExtra = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA", "2").toInt.max(0)
    val lineBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_LINE_BUDGET", "1800").toInt
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE_LOCAL.md")
    val spark = GraftSession.get()
    // untimed warmup: JIT/codegen/scheduler and file-footer reads
    // (best-effort — a missing table must not kill the bench run)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "documents", "embeddings", "events")
      .foreach(t => try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () })
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // local-iteration filter: SPARK_GRAFT_BENCH_ONLY=q1_agg,sim_topk
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // release blocks a previous query left behind (persisted
      // pipeline frames, localCheckpoint RDDs from the iterative
      // operators) — leftovers otherwise bloat the block manager and
      // bleed one query's memory pressure into the next one's time
      // (round 3: cg_dwithin_line timed 11 s mid-suite, 2 s alone)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
          -1.0
      }
    }
    // run-major, order shuffled per run: repeats of one query are
    // spaced across the whole sweep rather than back-to-back
    val names = selected.keys.toVector
    val runsByQuery = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> Vector.newBuilder[Double]): _*)
    (1 to nRuns).foreach { run =>
      new scala.util.Random(run).shuffle(names).foreach { n =>
        runsByQuery(n) += timeOne(n, selected(n))
      }
    }
    val results = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> runsByQuery(n).result()): _*)
    def minOf(runs: Vector[Double]): Double =
      if (runs.contains(-1.0)) -1.0 else runs.min
    // re-adjudication: >2× a pinned row after the base runs → spend
    // extra runs before letting the number stand
    val pinned = pinnedRows(baselinePath)
    if (pinned.isEmpty)
      System.err.println("WARNING: pinned-rows: 0 — re-adjudication disabled (cause above)")
    val flagged = names.filter { n =>
      val m = minOf(results(n))
      m >= 0 && pinned.get(n).exists(p => m > 2 * p)
    }
    flagged.foreach { n =>
      results(n) = results(n) ++ (1 to nExtra).map(_ => timeOne(n, selected(n)))
    }
    val mins = results.map { case (k, runs) => k -> minOf(runs) }
    val total = mins.values.filter(_ >= 0).sum
    // phase-timed sub-numbers for the sharded-export rows (write vs
    // read+verify), UNTIMED relative to the sweep — they make a
    // single-phase regression (e.g. manifest-verify cost) attributable
    // from the detail file alone. Best-effort: a failure records the
    // message instead of killing the bench.
    val exportDetail: Map[String, Map[String, Double]] =
      Seq("src_wet_roundtrip" -> (() => graft.queries.ExportDetail.wet(spark, sfDir)),
        "src_jsonl_roundtrip" -> (() => graft.queries.ExportDetail.jsonl(spark, sfDir)))
        .filter { case (n, _) => selected.contains(n) }
        .flatMap { case (n, f) =>
          try Some(n -> f())
          catch { case e: Throwable =>
            errors.getOrElseUpdate(s"${n}_detail", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
            None
          }
        }.toMap
    // full-precision detail (raw runs) to a file, NOT stdout
    val detail = {
      val runsJson = results.map { case (k, runs) =>
        s"${jstr(k)}:[${runs.mkString(",")}]"
      }.mkString("{", ",", "}")
      val errJson = errors.map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }.mkString("{", ",", "}")
      val flaggedJson = flagged.map(jstr).mkString("[", ",", "]")
      val exportJson = exportDetail.map { case (q, phases) =>
        s"${jstr(q)}:${phases.map { case (p, v) => s"${jstr(p)}:$v" }.mkString("{", ",", "}")}"
      }.mkString("{", ",", "}")
      s"""{"total":$total,"runs":$runsJson,"errors":$errJson,"readjudicated":$flaggedJson,"export_detail":$exportJson,"n_pinned":${pinned.size},"n_runs":$nRuns,"sf":${jstr(sfDir)}}"""
    }
    try {
      // anchor next to build.sbt when possible so the artifact lands in
      // the repo's target/ regardless of the caller's cwd
      val root = repoRoot.getOrElse(new java.io.File("."))
      val p = new java.io.File(root, "target/bench_detail.json").toPath
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, detail.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // the one driver-facing line: degrade per-query precision until it
    // fits the tail budget (errors, when present, win over precision)
    def line(decimals: Int): String = {
      val qs = mins.map { case (k, v) => s"${jstr(k)}:${fmt(v, decimals)}" }.mkString("{", ",", "}")
      val err =
        if (errors.isEmpty) ""
        else "," + "\"errors\":" + errors.map { case (k, m) => s"${jstr(k)}:${jstr(m.take(60))}" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$qs$err,"n_runs":$nRuns,"sf":${jstr(sfDir)}}"""
    }
    (3 to 1 by -1).map(line).find(_.length <= lineBudget) match {
      case Some(out) => println(out)
      case None =>
        // At 233 queries even the 1-decimal map outgrows the budget —
        // round 18's caller captured only a 2000-char stdout tail, so
        // the oversize line truncated mid-JSON and the per-query
        // comparison silently degraded to totals-only. Split the map
        // into SELF-CONTAINED JSON chunk lines, each within budget,
        // printed newest-last right before the total line: every line
        // that survives a tail capture parses on its own, and a caller
        // that merges `queries` maps across lines reconstructs the
        // full set. Errors (rare) get their own line first.
        if (errors.nonEmpty)
          println("{\"metric\":\"bench_errors\",\"errors\":" +
            errors.map { case (k, m) => s"${jstr(k)}:${jstr(m.take(60))}" }.mkString("{", ",", "}") + "}")
        val entries = mins.map { case (k, v) => s"${jstr(k)}:${fmt(v, 1)}" }.toVector
        def wrap(chunk: Seq[String], i: Int, of: Int): String =
          s"""{"metric":"queries_chunk","chunk":$i,"of":$of,"queries":${chunk.mkString("{", ",", "}")},"n_runs":$nRuns,"sf":${jstr(sfDir)}}"""
        val overhead = wrap(Nil, 99, 99).length + 8
        val chunks = entries.foldLeft(Vector(Vector.empty[String])) { (acc, e) =>
          val cur = acc.last
          if (cur.nonEmpty && cur.map(_.length + 1).sum + e.length + overhead > lineBudget)
            acc :+ Vector(e)
          else acc.init :+ (cur :+ e)
        }
        chunks.zipWithIndex.foreach { case (c, i) => println(wrap(c, i + 1, chunks.size)) }
    }
    // the driver-facing line, printed LAST: total-only, no per-query
    // map — bounded length at ANY query count, so the tail window can
    // never lose it (errors surface as a count; details in the lines
    // above and in target/bench_detail.json)
    println(s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","n_queries":${mins.size},"n_errors":${errors.size},"n_runs":$nRuns,"sf":${jstr(sfDir)}}""")
    spark.stop()
  }
}
