package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Json, SparkEntry}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

/** One benchmark run in one JVM: a check pass that writes every key's
  * result as parquet and warm-up passes for `--warmup-seconds` (both
  * untimed), then timed passes over the workload's keys in a seed-permuted
  * order until the run length is spent. Writes `result.json` (and
  * `spans.json` when traced) to the output directory; the launcher checks
  * the results and prints the metrics. */
object Runner {

  final case class Opts(
      workload: String, data: String, out: String, keys: Seq[String], seed: Long, seconds: Double,
      trace: Boolean, master: String, confs: Seq[(String, String)], sink: String,
      minPasses: Int, warmupS: Double, dumpOracle: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    Opts(one("workload"), one("data"), one("out"), one("keys").split(",").toSeq.filter(_.nonEmpty),
      one("seed").toLong, one("seconds").toDouble, one("trace") == "1", one("master"),
      kv.collect { case ("conf", c) => val Array(k, v) = c.split("=", 2); k -> v },
      one("sink"), one("min-passes").toInt, one("warmup-seconds").toDouble,
      kv.exists(_._1 == "dump-oracle"))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = os.getProcessCpuTime / 1e9
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def loadavg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  /** CPU seconds of the whole VM: busy (all processes) and stolen (time
    * its CPUs were runnable while the hypervisor ran another guest). */
  private def hostCpuS(): (Double, Double) = scala.util.Try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+").drop(1).map(_.toDouble)
    // USER_HZ; idle, iowait and steal are not busy
    ((f.take(8).sum - f(3) - f(4) - f(7)) / 100.0, f(7) / 100.0)
  }.getOrElse((-1.0, -1.0))

  /** Resets VmHWM to the current resident size (Linux `clear_refs` 5). */
  private def resetHwm(): Unit =
    scala.util.Try(Files.writeString(Paths.get("/proc/self/clear_refs"), "5"))

  private def vmHwmMb(): Double = scala.util.Try {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
      .linesIterator.find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }.getOrElse(-1.0)

  private def deleteTree(p: java.io.File): Unit = {
    Option(p.listFiles()).foreach(_.foreach(deleteTree))
    p.delete()
  }

  /** Per-layer metric names, in the order they are reported. */
  val LayerNames: Seq[String] = Seq(
    "entry.build_s", "entry.collect_s",
    "checkpoints.pins", "checkpoints.write_s", "checkpoints.stored_mb", "checkpoints.disk_mb",
    "checkpoints.leftover",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "plan.exchanges",
    "plan.global_windows",
    "exec.sink_s", "exec.stages", "exec.tasks", "exec.task_s", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.core_util", "exec.small_task_share",
    "tables.input_mb", "sources.output_mb", "sources.write_s",
    "jvm.gc_s", "jvm.heap_peak_mb")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.out))
    if (o.dumpOracle) {
      val sql = SparkEntry.oracleSql.filter { case (k, _) => o.keys.contains(k) }
      Files.writeString(Paths.get(o.out, "oracle_sql.json"),
        sql.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
      return
    }
    val builder = SparkSession.builder().master(o.master)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
    o.confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val maxMemory = Runtime.getRuntime.maxMemory
    val entries = o.keys.map(k => k -> SparkEntry.queries(k))
    val tracer = if (o.trace) Some(new Tracer(spark)) else None

    def sinkTo(df: DataFrame, mode: String, key: String): Unit = mode match {
      case "noop" => df.write.format("noop").mode("overwrite").save()
      case dir => df.write.mode("overwrite").parquet(s"$dir/$key")
    }

    /** Outside every timed region: drop what the key left persisted and
      * its written output, and count what survives the drop. */
    def cleanup(sinkDir: Option[String], key: String): Int = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      sinkDir.foreach(d => deleteTree(new java.io.File(s"$d/$key")))
      sc.getPersistentRDDs.size
    }

    val failures = mutable.LinkedHashMap.empty[String, String]
    def fail(pass: Int, key: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      failures(s"$pass/$key") = msg
      System.err.println(s"[perfbench] pass $pass $key FAILED: $msg")
    }
    def order(pass: Int): Seq[(String, (SparkSession, String) => DataFrame)] =
      new scala.util.Random(o.seed * 1000003L + pass).shuffle(entries)

    // check pass: every key's result as parquet, read back by the launcher
    val checkDir = s"${o.out}/check"
    val checkOrder = order(0)
    checkOrder.foreach { case (key, fn) =>
      val t0 = System.nanoTime()
      try sinkTo(fn(spark, o.data), checkDir, key) catch { case e: Throwable => fail(0, key, e) }
      System.err.println(f"[perfbench] check $key ${(System.nanoTime() - t0) / 1e9}%.3f s")
      cleanup(None, key)
    }

    val timedSink = if (o.sink == "parquet") s"${o.out}/sink" else "noop"
    val sinkDir = if (o.sink == "parquet") Some(timedSink) else None
    var attempted = 0

    // untimed passes with the timed sink until warmupS have passed: after
    // the check pass alone the first timed passes are still warming (JIT,
    // codegen and reader caches)
    val warmStart = System.nanoTime()
    var warm = 0
    while (o.minPasses > 0 && (warm == 0 || (System.nanoTime() - warmStart) / 1e9 < o.warmupS)) {
      warm += 1
      order(-warm).foreach { case (key, fn) =>
        attempted += 1
        try sinkTo(fn(spark, o.data), timedSink, key) catch { case e: Throwable => fail(-warm, key, e) }
        cleanup(sinkDir, key)
      }
    }

    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 1
    def span(parent: Int, name: String, s: Double, e: Double): Int = {
      val id = nextSpan; nextSpan += 1
      spans += Span(id, parent, name, s, e)
      id
    }
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    val passes = mutable.ArrayBuffer.empty[String]
    val passTimes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val layerByPass = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    val timedStartMs = System.currentTimeMillis()
    val timedStartNs = System.nanoTime()
    var pass = 0
    while (pass < o.minPasses || (System.nanoTime() - timedStartNs) / 1e9 < o.seconds) {
      pass += 1
      // pass 1 is still warming and stays untraced and out of the overhead;
      // from pass 2 on: traced, untraced, untraced, traced, ... so a
      // warming trend does not land on one side of the overhead
      val traced = tracer.isDefined && (pass % 4 == 2 || pass % 4 == 1 && pass > 1)
      if (traced) tracer.get.attach() else tracer.foreach(_.detach())
      val layer = mutable.LinkedHashMap(LayerNames.map(_ -> 0.0): _*)
      val keyOrder = order(pass)
      // untimed full GC: each pass starts from a compacted heap, so its time
      // and its resident peak do not depend on how much garbage earlier
      // passes left (and the ContextCleaner reaps what they dropped)
      System.gc()
      val load0 = loadavg(); val (host0, steal0) = hostCpuS(); val own0 = cpuS(); val gc0 = gcS()
      heapPools.foreach(_.resetPeakUsage())
      resetHwm()
      val passStartMs = nowMs()
      val passSpan = if (traced) span(0, s"pass $pass", passStartMs, passStartMs) else 0
      var passS = 0.0
      var cpuPass = 0.0
      val keyJson = mutable.ArrayBuffer.empty[String]
      keyOrder.foreach { case (key, fn) =>
        attempted += 1
        val before = if (traced) sc.getPersistentRDDs.keySet else Set.empty[Int]
        val buildTag = s"$pass/$key/construction"
        val sinkTag = s"$pass/$key/sink"
        var ok = true
        var buildS, sinkS = 0.0
        val c0 = cpuS()
        val k0 = nowMs()
        try {
          sc.setLocalProperty(JobListener.TagKey, buildTag)
          val t0 = System.nanoTime()
          val df = fn(spark, o.data)
          buildS = (System.nanoTime() - t0) / 1e9
          val pinsNow = if (traced) sc.getPersistentRDDs.keySet else Set.empty[Int]
          if (traced) layer("checkpoints.pins") += (pinsNow -- before).size
          sc.setLocalProperty(JobListener.TagKey, sinkTag)
          val t1 = System.nanoTime()
          sinkTo(df, timedSink, key)
          sinkS = (System.nanoTime() - t1) / 1e9
        } catch { case e: Throwable => ok = false; fail(pass, key, e) }
        finally sc.setLocalProperty(JobListener.TagKey, null)
        val cpuKey = cpuS() - c0
        System.err.println(f"[perfbench] pass $pass $key ${buildS + sinkS}%.3f s")
        passS += buildS + sinkS
        cpuPass += cpuKey
        if (traced) {
          val t = tracer.get
          org.apache.spark.graftbench.Bus.drain(sc)
          val keySpan = span(passSpan, key, k0, k0 + (buildS + sinkS) * 1e3)
          val buildSpan = span(keySpan, "construction", k0, k0 + buildS * 1e3)
          val sinkSpan = span(keySpan, "sink", k0 + buildS * 1e3, k0 + (buildS + sinkS) * 1e3)
          layer("entry.build_s") += buildS
          layer("exec.sink_s") += sinkS
          t.jobs.synchronized {
            val mine = t.jobs.jobs.filter(j => j.tag == buildTag || j.tag == sinkTag)
            mine.foreach { j =>
              val dur = (j.endMs - j.startMs) / 1e3
              if (j.tag == buildTag) {
                if (j.writesPin) layer("checkpoints.write_s") += dur
                else layer("entry.collect_s") += dur
              }
              val jobSpan = span(if (j.tag == buildTag) buildSpan else sinkSpan,
                s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble)
              j.stageIds.flatMap(t.jobs.stages.get).filter(_.tasks > 0).foreach { s =>
                span(jobSpan, s"stage ${s.id}", s.submitMs.toDouble, s.completeMs.toDouble)
                layer("exec.stages") += 1
                layer("exec.tasks") += s.tasks
                layer("exec.task_s") += s.taskMs / 1e3
                layer("exec.small_task_share") += s.smallTasks // a count until the pass ends
                layer("exec.shuffle_write_mb") += s.shuffleWrite / 1e6
                layer("exec.spill_mb") += s.spill / 1e6
                layer("sources.output_mb") += s.output / 1e6
                if (s.output > 0) layer("sources.write_s") += (s.completeMs - s.submitMs) / 1e3
              }
            }
            t.jobs.clear()
          }
          t.plans.synchronized {
            // every SQL execution of the key: its collects, pins and sink
            layer("tables.input_mb") += t.plans.done.map(PlanFacts.scannedBytes).sum / 1e6
            // the sink is the key's last SQL execution
            if (ok) t.plans.done.lastOption.foreach { qe =>
              layer("plan.analysis_s") += PlanFacts.phaseSeconds(qe, "analysis")
              layer("plan.optimization_s") += PlanFacts.phaseSeconds(qe, "optimization")
              layer("plan.planning_s") += PlanFacts.phaseSeconds(qe, "planning")
              layer("plan.exchanges") += PlanFacts.exchanges(qe)
              layer("plan.global_windows") += PlanFacts.globalWindows(qe)
            }
            t.plans.clear()
          }
          val storage = sc.getRDDStorageInfo
          layer("checkpoints.stored_mb") += storage.map(_.memSize).sum / 1e6
          layer("checkpoints.disk_mb") += storage.map(_.diskSize).sum / 1e6
        }
        val leftover = cleanup(sinkDir, key)
        if (traced) layer("checkpoints.leftover") += leftover
        keyJson += s"""{"key":${Json.str(key)},"build_s":$buildS,"sink_s":$sinkS,"cpu_s":$cpuKey,"ok":$ok,"leftover":$leftover}"""
      }
      val rssPass = vmHwmMb()
      val gcPass = gcS() - gc0
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
      val ownPass = cpuS() - own0
      val (host1, steal1) = hostCpuS()
      val otherCpu = host1 - host0 - ownPass
      val load1 = loadavg()
      val wallPass = (nowMs() - passStartMs) / 1e3
      if (traced) {
        spans(spans.indexWhere(_.id == passSpan)) = Span(passSpan, 0, s"pass $pass", passStartMs, nowMs())
        layer("exec.core_util") = layer("exec.task_s") / (passS * cores)
        layer("exec.small_task_share") =
          if (layer("exec.tasks") > 0) layer("exec.small_task_share") / layer("exec.tasks") else 0.0
        layer("jvm.gc_s") = gcPass
        layer("jvm.heap_peak_mb") = heapPeakMb
        layerByPass += layer
      }
      passTimes += ((traced, passS))
      passes += s"""{"pass":$pass,"traced":$traced,"pass_s":$passS,"cpu_s":$cpuPass,"peak_rss_mb":$rssPass,"gc_s":$gcPass,""" +
        s""""loadavg_before":$load0,"loadavg_after":$load1,"other_cpu_s":$otherCpu,""" +
        s""""wall_s":$wallPass,"steal_s":${steal1 - steal0},""" +
        s""""keys":${keyJson.mkString("[", ",", "]")}}"""
    }
    tracer.foreach(_.detach())

    spans += Span(0, -1, o.workload, epoch0, nowMs())
    val probes = if (o.trace) Probes.run(o.seed) else Nil
    val layerMedians = LayerNames.map(n => n -> Stats.median(layerByPass.map(_(n)).toSeq))
    val tracedPass = Stats.median(passTimes.collect { case (true, s) => s }.toSeq)
    val plain = passTimes.zipWithIndex.collect { case ((false, s), i) if !o.trace || i > 0 => s }.toSeq
    val plainPass = Stats.median(plain)
    val layerJson = (layerMedians ++ probes.map { case (n, v) => s"functions.$n.ns_per_row" -> v } ++
      (if (o.trace) Seq("trace.overhead_s" -> (tracedPass - plainPass)) else Nil))
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val failJson = failures.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val result =
      s"""{"default_parallelism":$cores,"max_memory":$maxMemory,"timed_start_ms":$timedStartMs,""" +
        s""""check_order":${checkOrder.map(e => Json.str(e._1)).mkString("[", ",", "]")},""" +
        s""""attempted":$attempted,"failures":$failJson,""" +
        s""""layers":$layerJson,"passes":${passes.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(o.out, "result.json"), result)
    if (o.trace)
      Files.writeString(Paths.get(o.out, "spans.json"), spans.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
      }.mkString("[\n", ",\n", "\n]"))
    spark.stop()
  }
}
