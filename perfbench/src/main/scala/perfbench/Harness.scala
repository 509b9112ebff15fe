package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.CompactOrder

import graft.SparkEntry
import graft.sources.Tables

/** One benchmark run in one JVM: a closed loop with one client that calls
  * registry members through `SparkEntry.queries(name)(spark, dir)` and
  * forces each frame with the `noop` sink.
  *
  * Phases, in order:
  *   1. session start and cold relation resolution (`Tables.*`);
  *   2. untimed warm-up on the workload's own inputs: every selected
  *      member once with its output written to parquet for the oracle
  *      check, then once more through the timed path; `setup_s` ends here,
  *      measured from JVM launch;
  *   3. timed passes, tracing off, each pass in its own seeded order;
  *   4. with `--trace 1`, the same number of passes again with the
  *      listeners of [[Tracer]] attached;
  *   5. members without an oracle run once more, untimed, so the check can
  *      compare their output fingerprints across passes.
  *
  * Results go to `<work>/result.json`; `run.py` checks outputs and prints
  * the metrics.
  */
object Harness {
  final case class Sample(member: String, pass: Int, buildS: Double, actionS: Double)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dataDir = a("data")
    val work = a("work")
    val slots = a("slots").toInt
    val minSamples = a("min-samples").toInt

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // the state-store maintenance thread would otherwise wake after
      // stop() and log a stack trace
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "24h")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val modules = scala.io.Source.fromFile(a("modules"), "UTF-8").getLines()
      .map(_.split('\t')).collect { case Array(n, m) => n -> m }.toMap
    val excluded = a("exclude").split(',').filter(_.nonEmpty).toSet
    val members = select(a("select"), SparkEntry.queries.keys.toSeq.sorted.filterNot(excluded),
      modules, a("sample-seed").toLong)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fail(name: String, phase: String, e: Throwable): Unit =
      if (!failures.contains(name))
        failures(name) = s"$phase: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("").take(300)

    // cold relation resolution: the first Tables.* call per table lists
    // the file and reads its footer; later calls hit the session cache
    val tResolve = System.nanoTime()
    Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation, Tables.customer,
      Tables.supplier, Tables.part, Tables.orders, Tables.lineitem, Tables.events,
      Tables.documents, Tables.embeddings).foreach(t => t(spark, dataDir))
    val resolveS = (System.nanoTime() - tResolve) / 1e9

    def writeParquet(name: String, out: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(out)
      catch { case e: Throwable => fail(name, "check", e) }
      val t = (System.nanoTime() - t0) / 1e9
      CompactOrder.releaseStaged()
      t
    }
    // the traced run follows RDD blocks from the start, so blocks filled
    // during warm-up (memoised frames) count in the cache peaks
    val tracer = new Tracer(spark, slots)
    if (trace) tracer.trackBlocks()
    val warmStart = System.nanoTime()
    val warmup = shuffled(members, seed, 0).map(n => n -> writeParquet(n, s"$work/out/$n"))

    def runPass(pass: Int, traced: Boolean): Seq[Sample] =
      shuffled(members, seed, pass).filterNot(failures.contains).flatMap { n =>
        val fn = SparkEntry.queries(n)
        if (traced) tracer.begin(n)
        val t0 = System.nanoTime()
        val res = try {
          val df = fn(spark, dataDir)
          val t1 = System.nanoTime()
          if (traced) tracer.action(t1)
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          Some(Sample(n, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
        } catch { case e: Throwable => fail(n, s"pass $pass", e); None }
        // outside the timed window
        if (traced) tracer.end(System.nanoTime(), ok = res.isDefined)
        CompactOrder.releaseStaged()
        res
      }

    // one cold pass leaves the JIT still compiling the noop path, so a
    // second, untimed noop pass completes the warm-up
    runPass(0, traced = false)
    val warmupS = (System.nanoTime() - warmStart) / 1e9
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // closed loop: whole passes until the run's seconds are spent and the
    // workload's fixed sample count is reached
    val timed = ArrayBuffer.empty[Sample]
    val timedStart = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    val budget = if (trace) seconds / 2 else seconds
    while (pass == 0 || elapsed < budget || (!trace && timed.size < minSamples)) {
      pass += 1
      timed ++= runPass(pass, traced = false)
    }
    val timedS = elapsed

    var tracedSamples = Seq.empty[Sample]
    var tracedS = 0.0
    if (trace) {
      tracer.attach()
      val t0 = System.nanoTime()
      tracedSamples = (pass + 1 to 2 * pass).flatMap(p => runPass(p, traced = true))
      tracedS = (System.nanoTime() - t0) / 1e9
      tracer.detach()
      tracer.writeSpans(s"$work/spans.jsonl")
    }

    // second fingerprint pass for the members the oracle cannot check
    members.filterNot(SparkEntry.oracleSql.contains).foreach(n => writeParquet(n, s"$work/out2/$n"))

    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    Files.write(Paths.get(s"$work/oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.toSeq.filter(kv => members.contains(kv._1))
        .map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
    def samplesJson(ss: Seq[Sample]) = Json.arr(ss.map(s => Json.obj(Seq(
      "member" -> Json.str(s.member), "pass" -> s.pass.toString,
      "build_s" -> Json.num(s.buildS), "action_s" -> Json.num(s.actionS)))))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "members" -> Json.arr(members.map(Json.str)),
      "failures" -> Json.obj(failures.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "setup_s" -> Json.num(setupS),
      "warmup_s" -> Json.num(warmupS),
      "warmup" -> Json.obj(warmup.map { case (n, t) => n -> Json.num(t) }),
      "resolve_s" -> Json.num(resolveS),
      "passes" -> pass.toString,
      "timed_s" -> Json.num(timedS),
      "samples" -> samplesJson(timed.toSeq),
      "traced_s" -> Json.num(tracedS),
      "traced_samples" -> samplesJson(tracedSamples),
      "layers" -> (if (trace) tracer.layersJson(resolveS) else "{}"),
      "member_layers" -> (if (trace) tracer.membersJson else "[]"),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "storage_mb" -> Json.num(
        spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1024.0 / 1024.0)))
    Files.write(Paths.get(s"$work/result.json"), result.getBytes(UTF_8))

    try {
      spark.sparkContext.setLogLevel("OFF")
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
    } catch { case _: Throwable => () }
    sys.exit(0)
  }

  /** Members for a selection rule:
    *   - `stratified:<fraction>`: per module of the attribution table, a
    *     sample of max(1, round(fraction · n)) members drawn with
    *     `sampleSeed`, so streaming twins and file sinks keep their share;
    *   - `list:<prefix>,...`: the members whose names start with a prefix.
    */
  def select(rule: String, names: Seq[String], modules: Map[String, String],
             sampleSeed: Long): Seq[String] = {
    val picked = rule.split(":", 2) match {
      case Array("stratified", f) =>
        names.groupBy(n => modules.getOrElse(n, "operators")).toSeq.sortBy(_._1).flatMap {
          case (_, ns) => new scala.util.Random(sampleSeed).shuffle(ns.sorted)
            .take(math.max(1, math.round(f.toDouble * ns.size).toInt))
        }
      case Array("list", ps) =>
        val prefixes = ps.split(',').map(_ + "_")
        names.filter(n => prefixes.exists(n.startsWith))
      case _ => sys.error(s"unknown selection rule $rule")
    }
    require(picked.nonEmpty, s"selection $rule matches no member")
    picked.sorted
  }

  /** The member order of pass `pass`: a seeded permutation. */
  def shuffled(members: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(members)
}

/** Minimal JSON writer: the harness emits only numbers, strings, arrays
  * and objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
