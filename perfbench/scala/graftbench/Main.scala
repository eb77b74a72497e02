package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: builds the session, sets the workload up
  * `--setups` times, runs the warm-up/check pass, then the closed loop for
  * at least `--seconds` seconds in whole passes (at least the workload's
  * `minPasses`), and writes one JSON record
  * of raw samples to `--out`. `run.py` turns the record into metrics.
  *
  * {{{
  *   graftbench.Main --workload tank_pipeline --seed 1 --seconds 10 --trace 0
  *     --work <scratch dir with inputs-0..> --out <record.json>
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val out = Paths.get(arg("out"))
    val setups = args.getOrElse("setups", "3").toInt
    val cpus = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      // A tank_pipeline pass generates about 300 classes, more than the
      // default 100-entry codegen cache holds, so at the default every
      // timed op would recompile its code. graft.Bench keeps compilation
      // out of its timings with a warm run before each timed query; here
      // the cache keeps it in the warm-up.
      .config("spark.sql.codegen.cache.maxEntries", 1000L)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val listener = if (trace) Some(new OpListener) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val spans = new Spans(trace)
    val ctx = new Ctx(spark, seed, work, spans)
    val w: Workload = workload match {
      case "tank_pipeline" => QueryWorkloads.tank(ctx)
      case "tablelog" => new TableLog(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // ------------------------------------------------------------ set-up
    val prepS = (0 until setups).map { rep =>
      val t = System.nanoTime()
      w.prepare(rep)
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    spans.op = -1
    w.warmup()
    spark.catalog.clearCache()
    val warmupS = (System.nanoTime() - tw) / 1e9
    listener.foreach(_.take(spark)) // set-up events are not any op's

    // ------------------------------------------------------------ closed loop
    val ops = mutable.ArrayBuffer.empty[Json.Obj]
    var probes = Map.empty[String, Double]
    var state = Map.empty[String, Double]
    val loop0 = System.nanoTime()
    var probeS = 0.0 // traced run: probe time is not loop time
    def elapsed = (System.nanoTime() - loop0) / 1e9 - probeS
    var p = 0
    while (p < w.minPasses || elapsed < seconds) {
      w.pass(p).foreach { op =>
        val i = ops.size
        spans.op = i
        op.before()
        val wall0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        val cause =
          try { spans("op")(op.run()); None }
          catch { case t: Throwable => Some(Cause.of(t)) }
        val lat = (System.nanoTime() - s0) / 1e9
        val wall1 = System.currentTimeMillis()
        op.after()
        spark.catalog.clearCache()
        val stats = listener.map(_.take(spark).toJson)
        ops += Json.obj("i" -> i, "pass" -> p, "name" -> op.name, "kind" -> op.kind,
          "lat_s" -> lat, "ok" -> cause.isEmpty, "cause" -> cause,
          "wall_ms" -> Json.arr(wall0, wall1), "stats" -> stats)
      }
      if (p == 0 && trace) {
        val tp = System.nanoTime()
        state = w.state()
        spans.op = -2
        probes = w.probes()
        listener.foreach(_.take(spark))
        probeS += (System.nanoTime() - tp) / 1e9
      }
      p += 1
    }
    val loopS = elapsed

    val tableSpace = w match {
      case t: TableLog =>
        val (disk, snap) = t.space()
        Some(Json.obj("gained_bytes" -> t.gainedBytes, "user_bytes" -> t.userBytes,
          "disk_bytes" -> disk, "snapshot_bytes" -> snap,
          "skip_reads" -> t.skipReads.toSeq,
          "skip_snapshot_bytes" -> t.skipSnapshotBytes.map { case (k, v) => k.toString -> v }.toMap,
          "compaction_bytes" -> t.compactionBytes.map { case (k, v) => k.toString -> v }.toMap))
      case _ => None
    }
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "nproc" -> cpus,
      "setup" -> Json.obj("session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmupS),
      "loop_s" -> loopS, "passes" -> p,
      "ops" -> ops.toSeq,
      "checks" -> w.checks.map { case (k, (dir, sql)) => k -> Json.obj("dir" -> dir, "oracle" -> sql) },
      "input_dir" -> w.inputDir.map(_.toString),
      "facts" -> w.facts,
      "table" -> tableSpace,
      "probes" -> probes, "state" -> state,
      "spans" -> spans.done.toSeq.map(s => Json.arr(s.id, s.op, s.name, s.parent, s.startNs, s.endNs)),
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    Files.writeString(out, Json.encode(record))
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}
