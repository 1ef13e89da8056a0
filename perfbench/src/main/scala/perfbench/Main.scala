package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession

/** The benchmark's JVM. Runs one workload for a measured window and writes
  * `result.json` (samples, setup timestamps, peak RSS, per-layer metrics of a
  * traced run, DuckDB twin SQL) for `run.py` to check and summarize.
  *
  * Usage: perfbench.Main --workload W --data DIR --out DIR --seconds S
  *          --trace 0|1 --cores N --seed N [--warm DIR] [--queries q1,q2,...]
  *
  * `--warm` names a small input of the same shape for the warm-up unit.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, data, out) = (opt("workload"), opt("data"), opt("out"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val seed = opt("seed").toLong
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.builder(master = s"local[$cores]", appName = "perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    def make(in: String, to: String): Workload = workload match {
      case "flagship_wordstats" => new FlagshipWordStats(spark, in, to, cores)
      case "curate_pipeline" => new CuratePipeline(spark, in, to, cores)
      case "analytics_mix" => new AnalyticsMix(spark, in, to, opt("queries").split(",").toSeq, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wl = make(data, out)
    val tr = new Tracer(spark)

    // warm-up (JIT, codegen cache), untimed, on the small input when one is given
    val warm = opt.get("warm").fold(wl)(make(_, s"$out/warm")).warmUp(tr)
    val firstTimedMs = System.currentTimeMillis()

    val samples = mutable.ArrayBuffer.empty[Sample]
    val unitWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val tracedTags = mutable.ArrayBuffer.empty[String]
    var segmentWall = 0.0
    val probeSeconds = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    var round = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    def runUnit(tag: String): Double = {
      val u0 = System.nanoTime()
      samples ++= wl.unit(tag, round, tr)
      round += 1
      (System.nanoTime() - u0) / 1e9
    }
    if (!traced) {
      while (round == 0 || elapsed < seconds) unitWalls += runUnit(s"u$round")
    } else {
      // untraced and traced units alternate, so JIT drift does not bias the overhead
      while (round == 0 || elapsed < seconds) {
        unitWalls += runUnit(s"u$round")
        val tag = s"u$round"
        val s0 = System.nanoTime()
        tr.start("traced")
        tracedWalls += runUnit(tag)
        tr.stop()
        segmentWall += (System.nanoTime() - s0) / 1e9
        tracedTags += tag
      }
      val s0 = System.nanoTime()
      tr.start("probe")
      // a probe times execution only: its plan is built in a span of its own
      wl.probes.foreach { case (name, build) =>
        val dfs = tr.span(s"probe.build.$name") { build() }
        val p0 = System.nanoTime()
        tr.span(s"probe.$name") { dfs.foreach(Workload.noop) }
        probeSeconds(name) = (System.nanoTime() - p0) / 1e9
      }
      tr.stop()
      segmentWall += (System.nanoTime() - s0) / 1e9
    }
    val measureWall = elapsed
    val peakRssMb = Main.vmHwmMb()

    val layers =
      if (!traced) Map.empty[String, Double]
      else Layers(tr, wl, cores, tracedTags.toSeq, unitWalls.toSeq, tracedWalls.toSeq,
        probeSeconds.toMap, segmentWall, samplesPerUnit = samples.size.toDouble / round)

    val json = new StringBuilder("{")
    def field(k: String, v: String): Unit = json.append(s"${Json.str(k)}:$v,")
    field("workload", Json.str(workload))
    field("jvm_start_ms", jvmStartMs.toString)
    field("session_ready_ms", sessionMs.toString)
    field("first_timed_ms", firstTimedMs.toString)
    field("warm_errors", Json.arr(warm.flatMap(_.error).map(Json.str)))
    field("samples", Json.arr(samples.toSeq.map(s => Json.obj(Seq(
      "label" -> Json.str(s.label), "seconds" -> s.seconds.toString,
      "error" -> s.error.map(Json.str).getOrElse("null"))))))
    field("unit_walls_s", Json.arr(unitWalls.toSeq.map(_.toString)))
    field("traced_walls_s", Json.arr(tracedWalls.toSeq.map(_.toString)))
    field("measure_wall_s", measureWall.toString)
    field("peak_rss_mb", peakRssMb.toString)
    field("oracle", Json.obj(wl.oracle.toSeq.map { case (k, v) => k -> Json.str(v) }))
    field("layers", Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }))
    json.append(s""""where":${Json.str(if (traced) Layers.report(tr) else "")}}""")
    Files.write(Paths.get(out, "result.json"), json.toString.getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(out, "spans.json"), tr.spansJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
