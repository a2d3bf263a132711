package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.examples.ReferencePipeline
import graft.streaming.KafkaWire

/** One public call into the engine that a pass times. `key` is the
  * `SparkEntry.queries` key when the step is one, which is also the key
  * of its oracle. */
final case class Step(layer: String, name: String, key: Option[String],
    streaming: Boolean, inputRows: Long, run: SparkSession => DataFrame) {
  def id: String = s"$layer.$name"
}

/** One call of a step in a pass: when it started (epoch ms) and how long
  * it took to run to completion. */
final case class StepRun(step: Step, startMs: Long, wallS: Double)

/** The benchmark driver: builds a session the way `graft.Bench` does,
  * sets up once (session start plus one untimed warm pass in which pins,
  * feeds and indexes build), then times closed-loop passes over the
  * workload's steps for a fixed number of seconds. The warm pass and one
  * more untimed pass after the timed ones, in the same session, write
  * every step's output for the oracle gate.
  *
  *   Main --workload W --steps ID,... --serve ID,... --data DIR --out DIR --work DIR
  *        --seconds N --trace 0|1 --cpus C --rows table=n,...
  *
  * With `--trace 1` every other timed pass, from the first, is traced: its jobs carry
  * the step's tag and the benchmark's `SparkListener` attributes their
  * stages, CPU time, shuffle and spill to the step. The untraced passes
  * in between give the tracing overhead. Results go to `DIR/bench.json`;
  * the spans of a traced run to `DIR/spans.json`. */
object Main {

  /** Every step the benchmark knows, by id; a workload is a list of ids. */
  def catalog(dir: String, rows: Map[String, Long]): Seq[Step] = {
    def entry(layer: String, key: String, table: String): Step =
      Step(layer, camel(key), Some(key), key.startsWith("s_"), rows.getOrElse(table, 0L),
        s => SparkEntry.queries(key)(s, dir))
    def topic(s: SparkSession): DataFrame =
      s.read.text(s"$dir/order_topic.jsonl").select(
        lit(null).cast("binary").as("key"), col("value").cast("binary").as("value"))
    Seq(
      Step("KafkaWire", "parse", None, streaming = false, rows.getOrElse("topic", 0L),
        s => KafkaWire.parse(topic(s))),
      Step("ReferencePipeline", "pipeline", None, streaming = false,
        rows.getOrElse("topic", 0L),
        s => ReferencePipeline.pipeline(KafkaWire.parse(topic(s)))),
      entry("Pairing", "q_facility_info_by_minute", "events"),
      entry("Pairing", "q_pair_match", "events"),
      entry("EventPairing", "s_pair_match", "events"),
      entry("PairingTws", "s_pair_match_tws", "events"),
      entry("JoinedPipeline", "s_pipeline", "events"),
      entry("WindowedAgg", "s_tumbling_agg", "events"),
      entry("Corpus", "q_corpus_increment", "documents"),
      entry("Dedup", "q_dedup_minhash", "documents"),
      entry("StreamingIndex", "s_ann_serve", "embeddings"),
      entry("StreamingIndex", "s_vector_ingest", "embeddings"))
  }

  /** `q_pair_match` → `qPairMatch`. */
  def camel(key: String): String = {
    val parts = key.split('_')
    parts.head + parts.tail.map(_.capitalize).mkString
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val r = q * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = opt("workload")
    val dir = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val rows = opt("rows").split(',').map { kv =>
      val Array(k, v) = kv.split('='); k -> v.toLong
    }.toMap
    val known = catalog(dir, rows).map(st => st.id -> st).toMap
    val steps = opt("steps").split(',').toSeq.map(known)
    val serveSteps = opt("serve").split(',').toSet
    val probes = new Probes

    // one pass: every step to completion, in order, through the noop
    // sink, or into parquet under `$out/results/<checked>` for the oracle
    // gate when `checked` is set
    def runPass(s: SparkSession, label: String, tagJobs: Boolean,
        checked: Option[String] = None): Seq[StepRun] =
      steps.map { st =>
        val tag = Tag(label, st.id)
        probes.currentTag = tag
        if (tagJobs) s.sparkContext.setLocalProperty(Tag.Property, tag)
        val views = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        checked match {
          case Some(c) => st.run(s).write.mode("overwrite").parquet(s"$out/results/$c/${st.id}")
          case None => st.run(s).write.format("noop").mode("overwrite").save()
        }
        val dt = secondsSince(t0)
        s.sparkContext.setLocalProperty(Tag.Property, null)
        probes.currentTag = ""
        // the memory-sink tables streaming steps leave behind are read:
        // drop them so retained memory does not grow with the pass count
        s.catalog.listTables().collect().filter(t => t.isTemporary && !views(t.name))
          .foreach(t => s.catalog.dropTempView(t.name))
        StepRun(st, startMs, dt)
      }

    // set-up, from JVM start to the first timed pass: session start, then
    // one untimed warm pass in which pins, feeds and indexes build, its
    // output written for the oracle gate
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tSession = System.nanoTime()
    val spark = session(cpus, opt("work"))
    val sessionS = secondsSince(tSession)
    spark.streams.addListener(probes.streams)
    if (traced) spark.sparkContext.addSparkListener(probes)
    val coldS = runPass(spark, "w", tagJobs = false, checked = Some("first"))
      .map(r => r.step.id -> r.wallS).toMap
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // retained heap once the set-up has built the pins, after a full GC:
    // block-manager storage and the engine's driver-side pins both live on
    // this heap in local mode. Taken here and not after the timed passes,
    // because the heap Spark retains grows with every pass run, and the
    // number of timed passes depends on how fast they are.
    val storageMb = {
      val mem = ManagementFactory.getMemoryMXBean
      (1 to 2).foreach { _ => System.gc(); Thread.sleep(200) }
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val blockMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0

    // timed passes, closed loop, for `seconds` (and at least one pass); a
    // traced run alternates traced passes (jobs tagged, the listener
    // attributing) with untraced ones, starting and ending with a traced one
    val passS = mutable.ArrayBuffer.empty[(String, Boolean, Double, Seq[StepRun])]
    val minPasses = if (traced) 3 else 1
    val tRun = System.nanoTime()
    while (passS.size < minPasses || secondsSince(tRun) < seconds) {
      val n = passS.size
      val tracedPass = traced && n % 2 == 0
      val label = s"p$n"
      val t0 = System.nanoTime()
      val byStep = runPass(spark, label, tagJobs = tracedPass)
      passS += ((label, tracedPass, secondsSince(t0), byStep))
    }
    val settled = probes.settle()

    // end-to-end figures over the passes a plain run would make
    val plain = passS.filter(p => !p._2)
    val plainLabels = plain.map(_._1 + "/").toSet
    def inPlain(tag: String) = plainLabels.exists(tag.startsWith)
    val dataTriggers = probes.triggers.asScala.toSeq
      .filter(t => inPlain(t.tag) && t.inputRows > 0)
    val rowsTotal = dataTriggers.map(_.inputRows).sum
    val busyS = dataTriggers.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
    // serve latency: the data-carrying micro-batches of the serving steps
    val serveMs = dataTriggers.filter(t => serveSteps(t.tag.split('/')(1)))
      .map(_.durations.getOrElse("triggerExecution", 0L).toDouble)

    // one more untimed pass in the same session, after the timed ones:
    // its output, made on the pins, feeds and indexes the passes before
    // it left behind, is gated as well as the warm pass's
    runPass(spark, "g", tagJobs = false, checked = Some("last"))

    // per-step counters over the traced passes
    val tracedPasses = passS.filter(_._2)
    val stepStats: Map[String, Map[String, Double]] = steps.map { st =>
      val per = tracedPasses.map { case (label, _, _, byStep) =>
        val tag = Tag(label, st.id)
        val wall = byStep.find(_.step.id == st.id).get.wallS
        val c = probes.counters(tag)
        val trig = probes.triggersOf(tag)
        def dur(k: String) = trig.map(_.durations.getOrElse(k, 0L)).sum.toDouble
        Map(
          "wall_s" -> wall,
          "cpu_s" -> c.cpuNs.get / 1e9,
          "stages" -> c.stages.get.toDouble,
          "shuffle_mb" -> c.shuffleBytes.get / 1048576.0,
          "spill_mb" -> c.spillBytes.get / 1048576.0,
          "triggers" -> trig.size.toDouble,
          "add_batch_ms" -> dur("addBatch"),
          "planning_ms" -> dur("queryPlanning"),
          "state_commit_ms" -> trig.map(_.stateCommitMs).sum.toDouble,
          "trigger_s" -> dur("triggerExecution") / 1e3,
          "outside_trigger_s" -> (wall - dur("triggerExecution") / 1e3))
      }
      val keys = if (per.isEmpty) Seq.empty[String] else per.head.keys.toSeq
      st.id -> (keys.map(k => k -> median(per.map(_(k)).toSeq)).toMap +
        ("cold_s" -> coldS(st.id)))
    }.toMap
    val spans = tracedPasses.flatMap { case (label, _, _, byStep) =>
      byStep.map { r =>
        val tag = Tag(label, r.step.id)
        val c = probes.counters(tag)
        Map("workload" -> w, "pass" -> label, "step" -> r.step.id,
          "start_ms" -> r.startMs, "end_ms" -> (r.startMs + (r.wallS * 1e3).round),
          "jobs" -> c.jobs.asScala.toSeq.sorted,
          "cpu_s" -> c.cpuNs.get / 1e9, "stages" -> c.stages.get,
          "shuffle_mb" -> c.shuffleBytes.get / 1048576.0,
          "spill_mb" -> c.spillBytes.get / 1048576.0,
          "triggers" -> probes.triggersOf(tag).map(t => Map(
            "input_rows" -> t.inputRows, "duration_ms" -> t.durations,
            "state_commit_ms" -> t.stateCommitMs)))
      }
    }

    val oracles = steps.flatMap(st => st.key.flatMap(SparkEntry.oracleSql.get).map(st.id -> _)).toMap

    val tracedMed = median(tracedPasses.map(_._3).toSeq)
    val plainMed = median(plain.map(_._3).toSeq)
    val report = Map(
      "workload" -> w,
      "traced" -> traced,
      "listeners_settled" -> settled,
      "setup_s" -> setupS,
      "session_start_s" -> sessionS,
      "checked" -> Seq("first", "last"),
      "passes" -> passS.map(p => Map("label" -> p._1, "traced" -> p._2, "wall_s" -> p._3)).toSeq,
      "pass_s" -> plainMed,
      "stream_rows" -> rowsTotal,
      "stream_busy_s" -> busyS,
      "serve_samples_ms" -> serveMs,
      "serve_p50_ms" -> percentile(serveMs, 0.5),
      "serve_p95_ms" -> percentile(serveMs, 0.95),
      "storage_mb" -> storageMb,
      "block_mb" -> blockMb,
      "trace_overhead" -> (if (traced) Map(
        "pass_s_traced" -> tracedMed, "pass_s_untraced" -> plainMed,
        "overhead_s" -> (tracedMed - plainMed)) else Map.empty),
      "steps" -> steps.map(st => Map("id" -> st.id, "key" -> st.key.getOrElse(""),
        "streaming" -> st.streaming, "input_rows" -> st.inputRows,
        "counters" -> stepStats(st.id))),
      "oracle_sql" -> oracles,
      "env" -> Map(
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "spark_version" -> spark.version,
        "cpus" -> cpus,
        "available_processors" -> Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0))
    Files.write(Paths.get(s"$out/bench.json"), Json(report).getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(s"$out/spans.json"), Json(spans).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** A small JSON writer for the report (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = {
    val b = new StringBuilder
    write(v, b)
    b.toString
  }

  private def write(v: Any, b: StringBuilder): Unit = v match {
    case null => b ++= "null"
    case s: String => str(s, b)
    case x: Boolean => b ++= x.toString
    case x: Double => b ++= (if (x.isNaN || x.isInfinite) "null" else x.toString)
    case x: Int => b ++= x.toString
    case x: Long => b ++= x.toString
    case m: scala.collection.Map[_, _] =>
      b += '{'
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) b += ','
        str(k.toString, b); b += ':'; write(x, b)
      }
      b += '}'
    case xs: Iterable[_] =>
      b += '['
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) b += ','; write(x, b) }
      b += ']'
    case other => str(other.toString, b)
  }

  private def str(s: String, b: StringBuilder): Unit = {
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
  }
}
