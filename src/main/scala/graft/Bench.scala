package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR`, one JSON summary line on stdout.
  *
  * Timing protocol (the record-of-trust contract): one untimed warm-up
  * pass at sf0.001 (codegen/JIT), then TWO timed passes with the
  * per-query MIN recorded, then a THIRD pass for every query whose
  * min-of-2 still exceeds 2.0 s — that threshold is the pass3 selection
  * rule. Per-pass timings are all persisted in the JSON (`pass1`/
  * `pass2`/`pass3` maps beside the min-of-N `queries` map) so a future
  * reader can distinguish single-pass JVM noise from a real regression
  * without re-running.
  *
  * Provenance + drift: every invocation stamps a `run_id` into the
  * stdout line, target/bench.json, and target/bench_errors.txt (so the
  * three round artifacts are provably from ONE run), and times a fixed
  * CPU-bound calibration probe (min-of-3) at start and end
  * (`calibration_start_s`/`calibration_end_s`) so cross-round totals
  * can be normalized for ambient host drift. The normalization is
  * emitted mechanically as `s_per_query_calibrated` = (total/n) ·
  * (REFERENCE_PROBE_S / min(start, end)) — per-query seconds as they
  * would read on the reference host (the r16 run, probe 0.174 s), so
  * cross-round comparison needs no narrative drift paragraph. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // The state-store maintenance thread fires on a 60s default interval;
      // after spark.stop() its next wake-up logs a ~1.3 KB "SparkEnv not
      // active" stack trace. The harness captures only a bounded tail of
      // stdout, and in BENCH_r03 that trace (printed AFTER the JSON line)
      // pushed the head of the JSON out of the capture window ->
      // "parsed": null. A huge interval means it never fires at all.
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "24h")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Tail-cleanliness assertion (the BENCH_r09/r12 regression class): any
    // ERROR-level log event during the run — e.g. DAGScheduler's
    // "non-existent accumulator" trace from a stop() racing a micro-batch
    // — lands in the harness's bounded stdout tail and can evict the JSON
    // head. Count them via a root-logger appender and carry the count in
    // the bench record, so a recurrence is a red number in the artifact
    // instead of an unexplained stack trace in the tail.
    val logErrors = new java.util.concurrent.atomic.AtomicInteger
    val logErrorsWarmup = new java.util.concurrent.atomic.AtomicInteger
    // distinct (query, logger, message-head) -> count: the forensic
    // record that turns a bare nonzero counter into a root-causable
    // artifact — the RUNNING QUERY tag is what pins a burst to its owner
    @volatile var currentQuery = "<init>"
    val errKinds = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
    locally {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.LogEvent
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val counter = new AbstractAppender("graft-err-counter", null, null,
          true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
            logErrors.incrementAndGet()
            // phase split: a burst during the UNTIMED warmup (where
            // straggler tasks from earlier queries land after their
            // accumulators unregister) must not read as timed-pass noise
            if (currentQuery.startsWith("warmup:"))
              logErrorsWarmup.incrementAndGet()
            val msg = Option(e.getMessage).map(_.getFormattedMessage)
              .getOrElse("").linesIterator.toSeq.headOption.getOrElse("")
              // collapse per-instance ids so one burst folds to one kind
              .replaceAll("[0-9]+", "#")
            val key = (currentQuery + " | " + e.getLoggerName + ": " + msg)
              .take(200)
            if (errKinds.size < 32)
              errKinds.computeIfAbsent(key,
                _ => new java.util.concurrent.atomic.AtomicInteger)
                .incrementAndGet()
          }
      }
      counter.start()
      LogManager.getContext(false) match {
        case ctx: LoggerContext =>
          ctx.getConfiguration.getRootLogger.addAppender(counter, Level.ERROR, null)
          // CONSOLE-only suppression of the one documented-benign class:
          // "Failed to update accumulator" is DAGScheduler processing a
          // CANCELLED task's completion after its query's accumulators
          // unregistered — harmless, but its multi-KB stack trace in the
          // harness's bounded stdout tail is exactly the JSON-eviction
          // failure mode of r01-r07. The counter appender above has NO
          // filter, so every such event still lands in log_errors +
          // target/bench_errors.txt (tagged with the running query) —
          // suppressed from the tail, never from the record.
          import org.apache.logging.log4j.core.filter.RegexFilter
          import org.apache.logging.log4j.core.Filter.Result
          import scala.jdk.CollectionConverters._
          ctx.getConfiguration.getAppenders.asScala.values
            .filter(_.getName != "graft-err-counter")
            .foreach {
              case f: org.apache.logging.log4j.core.filter.AbstractFilterable =>
                f.addFilter(RegexFilter.createFilter(
                  ".*Failed to update accumulator.*", null,
                  java.lang.Boolean.FALSE, Result.DENY, Result.NEUTRAL))
              case _ => ()
            }
          ctx.updateLoggers()
        case _ => () // non-core binding: run without the counter
      }
    }
    // Untimed warm-up at the smallest SF: compiles the same generated
    // classes (Janino cache keys on source, which doesn't embed paths), so
    // the timed pass measures query execution, not JVM/codegen cold-start.
    // SPARK_GRAFT_ONLY=q79,q46 benches a comma-separated subset (prefix
    // match) — the iterate-on-one-query loop; unset = the full suite.
    // Trimmed, blanks dropped; a filter that matches NOTHING is a typo and
    // must fail loudly, not print a plausible-looking total of 0.000.
    val onlyRaw = sys.env.get("SPARK_GRAFT_ONLY")
    val only = onlyRaw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val queries = only match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    // an all-blank filter (", ") is the same typo as a no-match filter —
    // running the FULL suite for it is exactly the silent-plausible-output
    // failure the guard exists to kill
    if (onlyRaw.isDefined && (only.exists(_.isEmpty) || queries.isEmpty)) {
      System.err.println(s"[bench] SPARK_GRAFT_ONLY=${onlyRaw.get} matches no query")
      sys.exit(2)
    }
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      queries.foreach { case (name, fn) =>
        currentQuery = s"warmup:$name"
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        // free the previous query's rowTuned checkpoint blocks (frames are
        // single-use here, so the truncated lineage is never re-executed)
        org.apache.spark.sql.graft.CompactOrder.releaseStaged()
      }
    // Host-drift calibration: a fixed CPU-bound probe (constant shape, no
    // IO — 2·10⁹ rows of codegen'd integer arithmetic) timed at bench
    // start and end, min-of-3 each. The benched host drifts 15-30%
    // between sessions (r15's committed total overstated the engine's
    // cost vs r14 purely on ambient throughput); with the probe pair in
    // the artifact, cross-round totals normalize by calibration instead
    // of narrative. The probe's own first run doubles as its codegen
    // warmup — min-of-3 drops it.
    def calibrationProbe(tag: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 2000000000L, 1L, cpus.toInt)
          .selectExpr("sum((id * 2654435761) % 1000003) as s")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      currentQuery = s"calibration:$tag"
      // min-of-3: the probe is ~0.3 s and scheduling noise on a busy
      // host is ±25% per sample; the min is the host's actual ceiling
      Seq(once(), once(), once()).min
    }
    val calStart = calibrationProbe("start")
    // Force FULL evaluation via the noop sink: count() lets Catalyst prune
    // every projected expression (a projection-heavy query would "run" in
    // the time of a row count), which silently exempts exactly the
    // expression work a real consumer pays for.
    // A THROWN query must not hide: its elapsed time still lands in the
    // map (aborting the pass would be worse), but a silent catch would
    // let an sf0.1-only failure (OOM-class) DEFLATE the total and read
    // as a speedup. Every throw is counted into `failed`, named in the
    // JSON, and tagged as a kind in target/bench_errors.txt.
    val failedQueries = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def recordFailure(name: String, e: Throwable): Unit = {
      failedQueries.add(name)
      val key = (name + " | THROWN " + e.getClass.getSimpleName + ": " +
        Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption
          .getOrElse("").replaceAll("[0-9]+", "#")).take(200)
      // cap gates INSERTION only: a kind already tracked keeps counting
      // past 32 distinct kinds (otherwise repeat failures undercount
      // exactly when the error surface is widest)
      val existing = errKinds.get(key)
      if (existing != null) existing.incrementAndGet()
      else if (errKinds.size < 32)
        errKinds.computeIfAbsent(key,
          _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    }
    def timedPass(): Map[String, Double] =
      queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        currentQuery = name
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => recordFailure(name, e) }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // release OUTSIDE the timed window (async unpersist message; r17
        // deferred this to GC, so keeping it untimed preserves protocol
        // comparability round-over-round)
        org.apache.spark.sql.graft.CompactOrder.releaseStaged()
        name -> elapsed
      }.toMap
    // Two timed passes, per-query MIN: the benched environment shows
    // non-reproducible 5-10x outliers on single runs (BENCH_r01 q32 36.7s
    // vs 1.3s steady-state); the min of two is the steady-state number the
    // plan actually earns.
    val p1 = timedPass()
    val p2 = timedPass()
    val min2 = p1.map { case (k, v) => k -> math.min(v, p2.getOrElse(k, v)) }
    // Queries still slow after min-of-2 get a THIRD pass: r07 recorded two
    // queries ~1.9x slower than r06 on byte-identical code (GC/scheduling
    // noise inside a 253-query JVM session), and with only two samples noise
    // is indistinguishable from regression on the record of trust. Re-timing
    // just the >2s survivors bounds the extra cost to the top handful.
    val slow = min2.filter(_._2 > 2.0).keySet
    val p3: Map[String, Double] =
      if (slow.isEmpty) Map.empty
      else queries.filter(q => slow(q._1)).toSeq.sortBy(_._1).map { case (name, fn) =>
        currentQuery = s"pass3:$name"
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => recordFailure(name, e) }
        val elapsed = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.graft.CompactOrder.releaseStaged()
        name -> elapsed
      }.toMap
    val results = min2.map { case (k, v) => k -> math.min(v, p3.getOrElse(k, v)) }
    val calEnd = calibrationProbe("end")
    // Single-run provenance: the same run_id lands in the compact stdout
    // line (-> the driver's BENCH_rN.json), target/bench.json, and
    // target/bench_errors.txt, so a per-query map or error file can be
    // matched to its headline mechanically (r15's committed map was from
    // a different, noisier invocation than its headline — undetectable
    // without this field).
    val runId = java.lang.Long.toHexString(System.currentTimeMillis())
    // 3-decimal values + short sf label keep the per-query map ~8 KB
    def jmap(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    val qs = jmap(results)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Mechanical drift normalization (VERDICT r16 #5): the r16 run's
    // probe floor is the recorded reference; a run on a host measuring
    // 2x slower on the probe reads its total scaled by 0.5. min(start,
    // end) is the host's best observed ceiling during THIS run.
    val ReferenceProbeS = 0.174 // BENCH_r16 calibration_end_s, run_id 1a00adf41ad
    val cal = math.min(calStart, calEnd)
    val sPerQueryCalibrated =
      if (results.nonEmpty && cal > 0) (total / results.size) * (ReferenceProbeS / cal)
      else 0.0
    val sfLabel = new java.io.File(sfDir).getName
    // Stop Spark FIRST and let shutdown noise flush, so the JSON line is the
    // last thing on stdout before sbt's one-line [success] banner — the
    // harness tail-captures stdout and anything bulky after this line can
    // evict its head from the window.
    // stop() must not be able to eat the result: the numbers are already
    // computed, so a teardown failure only costs the clean shutdown.
    // Log level OFF first: stop() races straggler task-end events, and a
    // DAGScheduler "attempted to access non-existent accumulator" ERROR
    // stack printed AFTER our JSON (seen in BENCH_r09's tail) is exactly
    // the bounded-stdout eviction that produced r01-r07's "parsed": null.
    // The numbers are computed; nothing log-worthy can happen past here.
    try {
      currentQuery = "<shutdown>"
      spark.sparkContext.setLogLevel("OFF")
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
      Thread.sleep(2000)
    } catch { case _: Throwable => () }
    // Per-pass maps go to the FILE alongside the min: with only the min on
    // record, a one-off GC stall is indistinguishable from a plan regression
    // (r07's q139/q186 read 1.9x slower on byte-identical code). The spread
    // between passes IS the noise floor a reader needs to judge a delta.
    val failedJson = {
      import scala.jdk.CollectionConverters._
      failedQueries.asScala.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    }
    val fullLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfLabel","run_id":"$runId","calibration_start_s":$calStart%.3f,"calibration_end_s":$calEnd%.3f,"calibration_ref_s":$ReferenceProbeS%.3f,"s_per_query_calibrated":$sPerQueryCalibrated%.3f,"log_errors":${logErrors.get},"log_errors_warmup":${logErrorsWarmup.get},"failed":${failedQueries.size},"failed_queries":$failedJson,"pass1":${jmap(p1)},"pass2":${jmap(p2)},"pass3":${jmap(p3)}}"""
    // The per-pass maps go to the FILE only; the file copy survives any
    // amount of log noise.
    try java.nio.file.Files.write(java.nio.file.Paths.get("target/bench.json"),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // the forensic error-kind record (its own file: messages can contain
    // anything, and the bench.json line must stay machine-clean)
    try {
      import scala.jdk.CollectionConverters._
      val kinds = errKinds.asScala.toSeq.sortBy(-_._2.get)
        .map { case (k, v) => s"${v.get}x $k" }.mkString("\n")
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_errors.txt"),
        (s"run_id $runId\n" + kinds + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    // stdout gets the summary as the LAST line — total, the min-of-N
    // per-query map, query count, sf, and a pointer to the per-pass file.
    // Shutdown is silenced above, so nothing prints after it to evict the
    // line's head from a bounded tail capture.
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"n":${results.size},"sf":"$sfLabel","run_id":"$runId","calibration_start_s":$calStart%.3f,"calibration_end_s":$calEnd%.3f,"calibration_ref_s":$ReferenceProbeS%.3f,"s_per_query_calibrated":$sPerQueryCalibrated%.3f,"log_errors":${logErrors.get},"log_errors_warmup":${logErrorsWarmup.get},"failed":${failedQueries.size},"per_query":"target/bench.json"}"""
    println(compact)
    System.out.flush()
  }
}
