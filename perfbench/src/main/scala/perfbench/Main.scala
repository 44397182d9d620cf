package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.streaming.StreamOps

/** Benchmark driver: one driver thread running a closed loop over a
  * workload's operations on `local[cores]`.
  *
  *   1. Set-up: start the session and make `WarmupPasses` untimed
  *      passes. The first runs every memoized staging build (graft
  *      memoizes staged trees per input dir for the life of the JVM);
  *      the others let JIT compilation settle, which on these small
  *      inputs otherwise keeps speeding up the first timed passes.
  *   2. Timed passes until `--seconds` have gone by (at least two
  *      untraced): each operation is
  *      built and drained through a noop sink. With `--trace 1` the
  *      first half runs untraced and the second half with the
  *      listeners on, which gives the per-layer numbers and the
  *      tracing overhead.
  *   3. An untimed check pass writes every operation's output as
  *      parquet, with the oracle SQL and tolerance gates that judge it.
  *
  * Usage: Main <workload> <inputDir> <seconds> <trace 0|1> <outDir>
  * Writes `<outDir>/result.json` and, when traced, `<outDir>/spans.jsonl`.
  */
object Main {

  val WarmupPasses = 3

  final case class Sample(op: Op, buildS: Double, writeS: Double, error: Option[String]) {
    def s: Double = buildS + writeS
  }

  final case class Failure(op: Op, phase: String, cls: String, msg: String)

  def main(args: Array[String]): Unit = {
    // Same refusal as Bench and Verify: the probe-only override changes
    // every stream's micro-batch count.
    require(!StreamOps.HarnessFilesPerTriggerOverridden,
      "GRAFT_HARNESS_FILES_PER_TRIGGER is set (probe-only override) " +
        "— unset it before running the benchmark")
    val Array(workload, dir, secondsArg, traceArg, outArg) = args
    val ops = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val out = Paths.get(outArg).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val failures = collection.mutable.ListBuffer.empty[Failure]

    // 1. set-up
    val setupStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[TriggerListener].getName)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def runOp(op: Op): Sample = {
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        sc.setLocalProperty(Tracer.PhaseKey, "build")
        val df = op.build(spark, dir)
        t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseKey, "write")
        df.write.format("noop").mode("overwrite").save()
        Sample(op, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, None)
      } catch {
        case NonFatal(e) =>
          failures += Failure(op, if (t1 == t0) "build" else "write",
            e.getClass.getName, String.valueOf(e.getMessage).take(500))
          Sample(op, (t1 - t0) / 1e9, 0.0, Some(e.getClass.getName))
      } finally sc.setLocalProperty(Tracer.PhaseKey, null)
    }

    (1 to WarmupPasses).foreach(_ => ops.foreach(runOp))
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val setupFailures = failures.size

    // 2. timed passes
    val spans = collection.mutable.ArrayBuffer.empty[Span]
    def loop(budgetS: Double, record: Boolean, minPasses: Int): Seq[(Double, Seq[Sample])] = {
      val start = System.nanoTime()
      val passes = collection.mutable.ArrayBuffer.empty[(Double, Seq[Sample])]
      while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < budgetS) {
        val p0 = System.nanoTime()
        val samples = ops.map { op =>
          val u0 = Clock.us()
          val s = runOp(op)
          if (record) {
            val id = spans.size / 3
            val u1 = u0 + (s.buildS * 1e6).toLong
            spans += Span(id, "op", op.name, u0, Clock.us())
            spans += Span(id, "build", op.name, u0, u1)
            spans += Span(id, "write", op.name, u1, u1 + (s.writeS * 1e6).toLong)
          }
          s
        }
        passes += ((System.nanoTime() - p0) / 1e9 -> samples)
      }
      passes.toSeq
    }
    val plain = if (traced) loop(seconds / 2, record = false, minPasses = 1)
                else loop(seconds, record = false, minPasses = 2)

    val layers: Seq[(String, Double)] = if (!traced) Nil else {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val before = Layers.bytesUnder(tmp)
      TriggerListener.drain()
      val passes = loop(seconds / 2, record = true, minPasses = 1)
      val triggers = TriggerListener.drain()
      val deadline = System.nanoTime() + 10e9.toLong
      while (!tracer.settled && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      val written = Layers.bytesUnder(tmp) - before
      val inputBytes = Files.size(Paths.get(dir, "documents.parquet"))
      Layers(passes, plain, tracer, triggers, spans, written, inputBytes)
    }

    // Live heap: the least heap in use over three full collections, so
    // garbage that Spark's cleaner releases a moment late does not count.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val checkStart = System.nanoTime()

    // 3. check pass
    val checkDir = out.resolve("check")
    val oracleKeys = ops.map(_.oracle)
    ops.foreach { op =>
      try op.build(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(checkDir.resolve(op.oracle).toString)
      catch {
        case NonFatal(e) => failures += Failure(op, "check", e.getClass.getName,
          String.valueOf(e.getMessage).take(500))
      }
    }
    Files.writeString(checkDir.resolve("oracle_sql.json"), Json.render(
      SparkEntry.oracleSql.filter(kv => oracleKeys.contains(kv._1))))
    Files.writeString(checkDir.resolve("tolerance_gates.json"),
      SparkEntry.toleranceExactSql.filter(kv => oracleKeys.contains(kv._1))
        .map { case (k, sql) =>
          s"${Json.render(k)}: {\"exact_sql\": ${Json.render(sql)}, " +
            SparkEntry.toleranceChecks(k) + "}"
        }.mkString("{", ",", "}"))
    spark.stop()
    System.err.println(f"[perfbench] set-up $setupS%.1f s, timed ${plain.map(_._1).sum}%.1f s, " +
      f"check pass ${(System.nanoTime() - checkStart) / 1e9}%.1f s")

    if (traced) Files.write(out.resolve("spans.jsonl"),
      spans.map(s => Json.render(Map("op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
        .mkString("", "\n", "\n").getBytes)

    val samples = plain.flatMap(_._2)
    val good = samples.filter(_.error.isEmpty).map(_.s).sorted
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(plain.map(_._1)),
      "op_p50_s" -> Stats.quantile(good, 0.5),
      "op_p90_s" -> Stats.quantile(good, 0.9),
      "heap_live_mb" -> heapMb)
    Files.writeString(out.resolve("result.json"), Json.render(Map(
      "workload" -> workload,
      "cores" -> cores,
      "operations" -> ops.map(o => Map("name" -> o.name, "module" -> o.module,
        "oracle" -> o.oracle)),
      "setup_s" -> setupS,
      "setup_failures" -> setupFailures,
      "passes" -> plain.size,
      "pass_s" -> plain.map(_._1),
      "op_samples" -> samples.size,
      "timed_errors" -> samples.groupMapReduce(_.op.oracle)(_.error.size)(_ + _)
        .filter(_._2 > 0),
      "op_attempts" -> samples.groupMapReduce(_.op.oracle)(_ => 1)(_ + _),
      "op_median_s" -> samples.groupBy(_.op.name).map { case (k, v) => k -> Stats.median(v.map(_.s)) },
      "failures" -> failures.map(f => Map("op" -> f.op.name, "oracle" -> f.op.oracle, "phase" -> f.phase,
        "class" -> f.cls, "message" -> f.msg)),
      "end_to_end" -> endToEnd.toMap,
      "per_layer" -> layers.toMap,
      "self_s" -> (if (traced) Tracer.selfUs(spans.toSeq).map { case (k, v) => k -> v / 1e6 }
                   else Map.empty[String, Double]))))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values; NaN when empty. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val h = (sorted.size - 1) * q
      val lo = sorted(h.toInt)
      val hi = sorted(math.min(sorted.size - 1, h.toInt + 1))
      lo + (hi - lo) * (h - h.toInt)
    }
}

/** Minimal JSON writer for the run artifact. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
