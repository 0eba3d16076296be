package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in a fresh JVM: session set-up, one cold pass,
  * warm passes until `--seconds` have been measured, then the traced
  * passes. Passes run on this one driver thread; the timed ones carry
  * no listener. Between passes, untimed, every persisted or
  * checkpointed RDD is released, the cache is cleared, the JVM runs a
  * GC and the pass's output directory is deleted after its check.
  *
  *   --workload cg_extract|ml_queries  --data <input dir>
  *   --work <scratch dir>  --cores N  --seconds S  --traced K
  *   --result <json file>  [--mode setup]
  *
  * `--mode setup` stops once the session is ready. The result file
  * holds the pass times, counts, failures, per-layer metrics and spans.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = o("cores").toInt
    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    val result = o("result")
    if (o.get("mode").contains("setup")) {
      Json.write(result, Map("ready_ms" -> readyMs))
      Runtime.getRuntime.halt(0) // nothing ran; skip the session's shutdown
    }
    try Json.write(result, bench(spark, o, cores) + ("ready_ms" -> readyMs))
    finally spark.stop()
  }

  private def bench(spark: SparkSession, o: Map[String, String], cores: Int): Map[String, Any] = {
    val w = Workload(o("workload"), o("data"), cores)
    val work = o("work")
    var passId = 0
    var attempted = 0
    val failures = Seq.newBuilder[String]
    var first: Option[Map[String, Long]] = None

    /** Records a pass's outcome; its exact counts must repeat those of
      * the first pass (counts only the traced pass adds are skipped). */
    def record(label: String, out: PassOut): Unit = {
      attempted += out.ops
      failures ++= out.failures.map(f => s"$label: $f")
      first match {
        case None => first = Some(out.counts)
        case Some(f) =>
          val diff = f.keySet.intersect(out.counts.keySet).toSeq.sorted.filter(k => f(k) != out.counts(k))
          if (diff.nonEmpty) {
            attempted += 1
            failures += s"$label: differs from the first pass in " +
              diff.take(8).map(k => s"$k ${f(k)} -> ${out.counts(k)}").mkString(", ")
          }
      }
    }

    def timedPass(): Double = {
      val dir = s"$work/pass-$passId"
      val label = s"pass $passId"
      passId += 1
      Files.createDirectories(Paths.get(dir))
      val t0 = System.nanoTime()
      val ran = try Right(w.pass(spark, dir)) catch { case e: Exception => Left(e) }
      val s = (System.nanoTime() - t0) / 1e9
      ran match {
        case Right(r) =>
          record(label, try w.check(spark, dir, r) catch {
            case e: Exception => PassOut(Map.empty, Seq(s"output check threw $e"), 2)
          })
        case Left(e) => record(label, PassOut(Map.empty, Seq(s"threw $e"), 1))
      }
      isolate(spark, dir)
      System.err.println(f"[graftbench] $label: $s%.3f s")
      s
    }

    val cold = timedPass()
    val warm = collection.mutable.ArrayBuffer[Double]()
    val seconds = o("seconds").toDouble
    val t0 = System.nanoTime()
    while (warm.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) warm += timedPass()
    val wall = Stats.median(warm.toSeq)

    val traced = (0 until o.getOrElse("traced", "0").toInt).map { _ =>
      val dir = s"$work/pass-$passId"
      val tr = new Tracer(spark, passId, "build",
        Seq("graft.operators.SequentialIds" -> "ids", "graft.spatial.DWithinJoin" -> "junctions"))
      passId += 1
      Files.createDirectories(Paths.get(dir))
      val gc0 = gcSeconds()
      tr.start()
      val t = System.nanoTime()
      val out = try w.traced(spark, dir, tr) catch {
        case e: Exception => PassOut(Map.empty, Seq(s"threw $e"), 1)
      }
      val s = (System.nanoTime() - t) / 1e9
      tr.stop()
      val gc = gcSeconds() - gc0
      record(s"traced pass ${tr.pass}", out)
      attempted += 1
      if (tr.spanJobs != tr.jobsSeen)
        failures += s"traced pass ${tr.pass}: ${tr.jobsSeen} jobs, ${tr.spanJobs} in spans"
      isolate(spark, dir)
      (tr, Layers.metrics(tr, out.counts, s, wall, gc, cores, w), s)
    }

    Map(
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> System.getProperty("java.version"),
      "cold_s" -> cold,
      "warm_s" -> warm.toSeq,
      "attempted" -> attempted,
      "failures" -> failures.result(),
      "counts" -> first.getOrElse(Map.empty),
      "traced_s" -> traced.map(_._3),
      "per_layer" -> traced.map(_._2),
      "spans" -> traced.flatMap(_._1.spans).map(sp => Map(
        "name" -> sp.name, "parent" -> sp.parent, "pass" -> sp.pass, "start_s" -> sp.startS, "end_s" -> sp.endS)),
      "jobs" -> traced.flatMap(t => t._1.jobs.map { case (id, span, site) =>
        Map("pass" -> t._1.pass, "job" -> id, "span" -> span, "call_site" -> site) }))
  }

  /** Untimed pass isolation (see the object comment). */
  private def isolate(spark: SparkSession, dir: String): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The per-layer metrics of one traced pass. A layer the workload
  * does not exercise still gets its span, which is then empty: its
  * time is the span's own overhead and its counts are zero. */
object Layers {
  val cgSpans = Seq("osm.read", "build", "ids", "junctions", "split", "polygons",
    "splice", "diff", "render", "write", "summary")
  def qSpans(q: String) = Seq(s"q.$q.construct", s"q.$q.execute")

  def metrics(tr: Tracer, counts: Map[String, Long], tracedS: Double, wall: Double,
              gcS: Double, cores: Int, w: Workload): Map[String, Double] = {
    for (n <- cgSpans ++ MlQueries.all.flatMap(qSpans) if !tr.spans.exists(_.name == n))
      tr.span(n)(())
    val tot = tr.total
    def s(n: String) = tr.seconds(n)
    def c(k: String) = counts.getOrElse(k, 0L).toDouble
    def q(n: String) = s(s"q.$n.construct") + s(s"q.$n.execute")
    val ids = tr.site("ids")
    val junc = tr.site("junctions")
    val write = tr.of("write")
    Map(
      "jvm.gc_s" -> gcS,
      "jvm.peak_rss_mb" -> peakRssMb,
      "spark.jobs" -> tot.jobs.toDouble,
      "spark.tasks" -> tot.tasks.toDouble,
      "spark.shuffle_bytes" -> tot.shuffleBytes.toDouble,
      "spark.spill_bytes" -> tot.spillBytes.toDouble,
      "spark.executor_run_s" -> tot.runS,
      "spark.executor_cpu_s" -> tot.cpuS,
      "spark.core_use" -> tot.runS / (wall * cores),
      "build.s" -> s("build"),
      "build.jobs" -> tr.of("build").jobs.toDouble,
      "osm.read_s" -> s("osm.read"),
      "osm.input_bytes" -> (w match { case g: Changegen => g.osmBytes; case _ => 0L }).toDouble,
      "ids.s" -> (s("ids") + ids.jobS),
      "ids.rows" -> c("ids.rows"),
      "ids.jobs" -> (tr.of("ids").jobs + ids.jobs).toDouble,
      "junctions.s" -> (s("junctions") + junc.jobS),
      "junctions.rows" -> c("junctions.rows"),
      "junctions.shuffle_bytes" -> (tr.of("junctions").shuffleBytes + junc.shuffleBytes).toDouble,
      "split.s" -> s("split"),
      "split.rows" -> c("split.rows"),
      "polygons.s" -> s("polygons"),
      "splice.s" -> s("splice"),
      "splice.rows" -> c("splice.rows"),
      "splice.shuffle_bytes" -> tr.of("splice").shuffleBytes.toDouble,
      "diff.s" -> s("diff"),
      "diff.rows" -> c("diff.rows"),
      "render.s" -> s("render"),
      "write.s" -> s("write"),
      "write.core_use" -> write.runS / (s("write") * cores),
      "write.bytes" -> c("osc_bytes"),
      "summary.s" -> s("summary"),
      "summary.jobs" -> tr.of("summary").jobs.toDouble,
      "queries.heavy_s" -> MlQueries.heavy.map(q).sum,
      "queries.short_s" -> MlQueries.short.map(q).sum,
      "queries.construct_s" -> MlQueries.all.map(n => s(s"q.$n.construct")).sum,
      "osc.create" -> c("osc.create"),
      "osc.modify" -> c("osc.modify"),
      "osc.delete" -> c("osc.delete"),
      "trace.overhead_s" -> (tracedS - wall)
    ) ++ MlQueries.all.flatMap(n => Seq(
      s"q.$n.construct_s" -> s(s"q.$n.construct"),
      s"q.$n.execute_s" -> s(s"q.$n.execute"),
      s"q.$n.jobs" -> (tr.of(s"q.$n.construct").jobs + tr.of(s"q.$n.execute").jobs).toDouble))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    Files.write(Paths.get(path), render(v).getBytes(StandardCharsets.UTF_8))
  }
}
