package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side. `run.py` builds it and passes:
  *
  *   --workload marts|curation --seed N --seconds S --trace 0|1
  *   --home <benchmark dir> --data <sf dir> --root <per-run temp root>
  *   --out <run record path> [--trace-out <spans path>] [--sweep]
  *   [--record <fingerprint file>]
  *
  * It sets up (several times, reporting the median), checks every
  * operation's output once on an untimed pass, then runs [[timedPasses]]
  * timed passes over the workload's operations, and writes one run record
  * as JSON to `--out`.
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, home: String, data: String,
                        root: String, out: String, traceOut: Option[String],
                        sweep: Boolean, record: Option[String])

  final case class Entry(query: String, layer: String, workload: String,
                         timedAs: String, panel: Boolean) {
    /** The registry query that is run: the bench form when one is set. */
    def runs: String = if (timedAs == "-") query else timedAs
  }

  /** One timed operation. `kind` is query (a registry query), upsert,
    * compact or scan (a full read of a sink table).
    */
  final case class Op(pass: Int, traced: Boolean, id: Long, name: String,
                      kind: String, layer: String, startMs: Long, endMs: Long,
                      constructS: Double, execS: Double, ok: Boolean,
                      rows: Long = 0, delta: FileDelta = FileDelta.zero,
                      scanFiles: Long = 0) {
    def latency: Double = constructS + execS
  }

  final case class Failure(workload: String, op: String, cls: String,
                           msg: String)

  val layers: Seq[String] =
    Seq("functions", "staging", "models", "operators", "sources")

  /** Queries whose builders own a build-once fixture. */
  val fixtureOwners: Set[String] = Set("q183_delta_pruned_scan",
    "q192_delta_metadata_count", "q198_ann_ivf_serving",
    "q204_landmark_serving", "q224_delta_mor_delete",
    "q232_delta_version_diff", "q240_delta_restore", "q241_timestamp_travel")

  /** One small query per query layer, run once at the end of a traced run
    * for each layer the workload itself does not exercise (every pass
    * exercises `sources` through its sink round).
    */
  val layerProbe: Map[String, String] = Map(
    "functions" -> "q04_distinct", "staging" -> "q91_brand_catalog",
    "models" -> "q114_profit_monthly", "operators" -> "q236_hll_distinct")

  /** The number of timed passes: one per five seconds of `--seconds`, at
    * least two. It depends on `--seconds` only, never on how fast the
    * measured code runs, so a faster build makes the same passes and its
    * medians stay comparable.
    */
  def timedPasses(seconds: Int): Int = math.max(2, seconds / 5)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val flags = args.filter(a => a == "--sweep").toSet
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("home"), need("data"), need("root"),
      need("out"), m.get("trace-out"), flags("--sweep"), m.get("record"))
  }

  /** The query-to-layer table. Every registry query must appear exactly
    * once, and the bench-form substitutions must match the registry's;
    * anything else stops the run before it measures.
    */
  def loadLayers(home: String): Seq[Entry] = {
    val lines = Files.readAllLines(Paths.get(home, "layers.tsv"))
    import scala.jdk.CollectionConverters._
    val entries = lines.asScala.toSeq.filterNot(l => l.startsWith("#") ||
      l.trim.isEmpty).map { l =>
      val f = l.split("\t")
      require(f.length == 5, s"layers.tsv: bad line '$l'")
      Entry(f(0), f(1), f(2), f(3), f(4) == "panel")
    }
    val registry = graft.SparkEntry.queries.keySet
    val names = entries.map(_.query)
    val twice = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    val unmapped = (registry -- names).toSeq
    val stale = (names.toSet -- registry).toSeq
    val forms = graft.SparkEntry.benchForm
    val badForm = entries.filter(e =>
      forms.getOrElse(e.query, "-") != e.timedAs).map(_.query)
    val badLayer = entries.filterNot(e =>
      (layers :+ "streaming").contains(e.layer) &&
        Seq("marts", "curation").contains(e.workload)).map(_.query)
    val problems = Seq(
      "registry queries missing from layers.tsv" -> unmapped,
      "layers.tsv queries not in the registry" -> stale,
      "queries mapped more than once" -> twice,
      "bench-form stamp differs from SparkEntry.benchForm" -> badForm,
      "unknown layer or workload" -> badLayer).filter(_._2.nonEmpty)
    if (problems.nonEmpty)
      throw new IllegalStateException("layer map out of date: " +
        problems.map { case (k, v) => s"$k: ${v.sorted.mkString(", ")}" }
          .mkString("; "))
    entries
  }

  def loadExpected(home: String): Map[String, (Long, Option[Long])] = {
    val p = Paths.get(home, "expected", "fingerprints.tsv")
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.filterNot(_.startsWith("#")).map { l =>
        val f = l.split("\t")
        f(0) -> (f(1).toLong,
          if (f(2) == "count-only") None else Some(f(2).toLong))
      }.toMap
    }
  }

  def session(c: Conf, cores: Int): SparkSession = {
    val s = graft.GraftSession.defaults(SparkSession.builder()
        .appName("perfbench").master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.root}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(ns: Long): Double = ns / 1e9

  def main(args: Array[String]): Unit = {
    // exit explicitly: a lingering non-daemon thread must not keep a
    // finished (or failed) run alive
    val rc = try { run(parse(args)); 0 }
    catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(rc)
  }

  def run(c: Conf): Unit = {
    // wall time of each stage of the run, for sizing it against its budget
    val stages = ArrayBuffer[(String, Double)]()
    var stageT = System.nanoTime()
    def stage(name: String): Unit = {
      val t = System.nanoTime()
      stages += ((name, secs(t - stageT)))
      stageT = t
    }
    require(Set("marts", "curation")(c.workload),
      s"unknown workload ${c.workload}")
    val entries = loadLayers(c.home)
    val cores = Runtime.getRuntime.availableProcessors
    val queryOps: Seq[Entry] =
      entries.filter(e => e.workload == c.workload &&
        (c.sweep || c.record.nonEmpty || e.panel))
    val expected = loadExpected(c.home)
    val failures = ArrayBuffer[Failure]()
    var attempted = 0L
    def fail(op: String, t: Throwable): Unit =
      failures += Failure(c.workload, op, t.getClass.getName,
        String.valueOf(t.getMessage).take(500))

    // ---- set-up, repeated; the last repetition's session is kept ----
    val inputs = s"${c.root}/inputs"
    val baseDir = s"$inputs/base"
    val setupReps = if (c.record.nonEmpty) 1 else 3
    val setupS = ArrayBuffer[Double]()
    val tablesS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var baseRows: Array[Row] = null
    var sinkRoot = ""
    for (r <- 1 to setupReps) {
      val t0 = System.nanoTime()
      var harness = 0L
      val tmp = s"${c.root}/setup-$r"
      Files.createDirectories(Paths.get(tmp))
      // Fixtures.buildOnce roots live under java.io.tmpdir
      System.setProperty("java.io.tmpdir", tmp)
      if (spark != null) spark.stop()
      spark = session(c, cores)
      val tt = System.nanoTime()
      graft.Tables.names.foreach(graft.Tables(spark, c.data, _))
      tablesS += secs(System.nanoTime() - tt)
      graft.SparkEntry.queries("q47_date_predicate")(spark, c.data)
        .write.format("noop").mode("overwrite").save()
      if (baseRows == null && c.record.isEmpty) {
        val h = System.nanoTime()
        SinkInputs.writeBase(spark, c.data, baseDir, 10)
        baseRows = spark.read.schema(SinkInputs.schema).parquet(baseDir)
          .collect()
        harness += System.nanoTime() - h
      }
      val reg = graft.SparkEntry.queries
      queryOps.filter(e => fixtureOwners(e.query)).foreach { e =>
        try reg(e.query)(spark, c.data)
        catch { case NonFatal(t) => if (r == setupReps) fail(e.query, t) }
      }
      if (c.record.isEmpty) {
        sinkRoot = s"$tmp/sink"
        SinkPair.load(spark, sinkRoot, baseDir)
      }
      setupS += secs(System.nanoTime() - t0 - harness)
    }
    val sc = spark.sparkContext
    val registry = graft.SparkEntry.queries
    val confs = spark.conf.getAll.toSeq.sortBy(_._1)

    // ---- environment gauges ----
    def noopGauge(): Double = {
      val t = System.nanoTime()
      spark.range(0, 2000, 1, cores).repartition(cores)
        .selectExpr("id % 7 AS k").groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
      secs(System.nanoTime() - t)
    }
    def spinGauge(): Double = {
      val t = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      if (x == 42) println("")
      secs(System.nanoTime() - t)
    }
    stage("setup")
    val schedNoop = Stats.median((1 to 3).map(_ => noopGauge()))
    val cpuSpin = Stats.median((1 to 3).map(_ => spinGauge()))

    def quiesce(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    stage("gauges")
    // ---- correctness of every query operation, untimed ----
    val countOnly = ArrayBuffer[String]()
    val recorded = ArrayBuffer[String]()
    queryOps.foreach { e =>
      attempted += 1
      try {
        val fp = Fingerprint.of(registry(e.runs)(spark, c.data))
        if (c.record.nonEmpty) recorded += s"${e.query}\t${fp.rows}\t${fp.hash}"
        else expected.get(e.query) match {
          case None => throw new IllegalStateException(
            s"no expected fingerprint for ${e.query}")
          case Some((rows, hash)) =>
            if (hash.isEmpty) countOnly += e.query
            if (rows != fp.rows || hash.exists(_ != fp.hash))
              throw new IllegalStateException(
                s"fingerprint mismatch: expected $rows rows/hash " +
                  s"${hash.getOrElse("-")}, got ${fp.rows}/${fp.hash}")
        }
      } catch { case NonFatal(t) => fail(e.query, t) }
      quiesce()
    }
    if (c.record.nonEmpty) {
      Files.writeString(Paths.get(c.record.get),
        recorded.mkString("", "\n", "\n"))
      spark.stop()
      return
    }

    // ---- timed passes ----
    val tracer = new Tracer(spark)
    val ops = ArrayBuffer[Op]()
    var nextOp = 1L
    val sink = new SinkPair(spark, sinkRoot, baseRows, c.seed,
      updateFrac = 0.01, newPerBatch = 6)
    baseRows = null
    var harnessNs = 0L
    def harness[T](body: => T): T = {
      val t = System.nanoTime()
      try body finally harnessNs += System.nanoTime() - t
    }

    def timed(pass: Int, traced: Boolean, name: String, kind: String,
              layer: String)(construct: => DataFrame)
             (execute: DataFrame => Unit): Op = {
      harness(quiesce())
      attempted += 1
      val id = nextOp; nextOp += 1
      val a = System.nanoTime(); val aMs = System.currentTimeMillis()
      var b = a
      val ok = try {
        sc.setJobGroup(s"op$id:construct", name)
        val df = construct
        b = System.nanoTime()
        sc.setJobGroup(s"op$id:execute", name)
        execute(df)
        true
      } catch { case NonFatal(t) => fail(name, t); false }
      finally sc.clearJobGroup()
      val e = System.nanoTime()
      if (b == a) b = e
      val op = Op(pass, traced, id, name, kind, layer, aMs,
        System.currentTimeMillis(), secs(b - a), secs(e - b), ok)
      ops += op
      op
    }
    def noop(df: DataFrame): Unit =
      if (df != null) df.write.format("noop").mode("overwrite").save()

    def query(pass: Int, traced: Boolean, e: Entry): Unit = {
      timed(pass, traced, e.query, "query", e.layer)(
        registry(e.runs)(spark, c.data))(noop)
    }

    def write(pass: Int, traced: Boolean, name: String, kind: String,
              table: String, rows: Long)(body: => Unit): Unit = {
      val (before, pb) = harness(
        (FileDelta.listing(table), FileDelta.pointers(table)))
      val op = timed(pass, traced, name, kind, "sources")(null) { _ => body }
      val delta = harness(FileDelta.between(before,
        FileDelta.listing(table), pb, FileDelta.pointers(table)))
      ops(ops.size - 1) = op.copy(rows = rows, delta = delta)
    }

    def check(table: String): Unit = harness {
      attempted += 1
      try sink.check(table).foreach(m =>
        throw new IllegalStateException(m))
      catch { case NonFatal(t) => fail(s"check:${Paths.get(table)
        .getFileName}", t) }
    }

    // each pass ends the way a daily job does: it loads the day's batch
    // into both sinks, reads each back in full, then compacts the plain
    // table
    def sinkRound(pass: Int, traced: Boolean): Unit = {
      val (dir, n) = harness(sink.nextBatch(inputs))
      // the plain table's merge runs with AQE partition coalescing held
      // off, as the repository's own compaction specs do, so each commit
      // leaves one file per shuffle partition, as a large table's merge
      // does, and the compaction below has files to pack
      val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
      val prior = spark.conf.get(coalesce)
      spark.conf.set(coalesce, "false")
      try write(pass, traced, "upsert:u", "upsert", sink.u, n) {
        graft.sources.Sinks.upsertParquet(spark, sink.u, sink.batch(dir),
          keys = Seq("k"))
      } finally spark.conf.set(coalesce, prior)
      write(pass, traced, "upsert:p", "upsert", sink.p, n) {
        graft.sources.Sinks.upsertParquetPartitioned(spark, sink.p,
          sink.batch(dir), keys = Seq("k"), partitionCol = "part")
      }
      // three consumers read each fresh table in full
      for (t <- sink.tables; _ <- 1 to 3) {
        val tag = if (t == sink.p) "p" else "u"
        val op = timed(pass, traced, s"scan:$tag", "scan", "sources")(
          sink.read(t))(noop)
        ops(ops.size - 1) = op.copy(scanFiles = harness(sink.scanFiles(t)))
      }
      write(pass, traced, "compact:u", "compact", sink.u, 0) {
        graft.sources.Sinks.compactUpsertTable(spark, sink.u)
      }
      val compact = ops.last
      if (compact.ok && compact.delta.bytesWritten == 0) {
        fail("compact:u", new IllegalStateException(
          "compactUpsertTable rewrote nothing"))
        ops(ops.size - 1) = compact.copy(ok = false)
      }
      sink.tables.foreach(check)
    }

    // the first sink round runs untimed with the correctness checks, so
    // the timed passes start with the sink path warm, as the queries are
    sinkRound(-2, traced = false)
    stage("correctness")

    val walls = ArrayBuffer[(Int, Boolean, Double)]()
    // a traced run alternates untraced and traced passes and makes an
    // odd number of them, so the tracing overhead is measured inside one
    // process against the untraced passes after the first, which runs
    // colder than the rest (a sweep makes a single pass, traced when
    // tracing is on)
    def tracedPass(p: Int): Boolean = c.trace && (c.sweep || p % 2 == 1)
    val nPasses =
      if (c.sweep) 1
      else if (c.trace) timedPasses(c.seconds) / 2 * 2 + 1
      else timedPasses(c.seconds)
    for (pass <- 0 until nPasses) {
      val traced = tracedPass(pass)
      if (traced) tracer.attach() else tracer.detach()
      val order =
        if (c.sweep) queryOps
        else new scala.util.Random(c.seed * 1000003L + pass).shuffle(queryOps)
      System.gc()
      harnessNs = 0L
      val t0 = System.nanoTime()
      order.foreach(e => query(pass, traced, e))
      sinkRound(pass, traced)
      walls += ((pass, traced, secs(System.nanoTime() - t0 - harnessNs)))
    }

    // a traced run measures, once each, the layers its workload lacks
    if (c.trace) {
      tracer.attach()
      val have = ops.filter(_.traced).map(_.layer).toSet
      layers.filterNot(have).foreach { l =>
        query(-1, traced = true, entries.find(_.query == layerProbe(l)).get)
      }
      tracer.detach()
    }
    quiesce()
    // Spark's ContextCleaner frees the blocks of collected broadcasts and
    // shuffles only after the GC that finds them unreachable, so collect
    // until the heap stops shrinking
    def heapAfterGc(): Double = {
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }
    var heapMb = heapAfterGc()
    var shrunk = true
    var gcs = 1
    while (shrunk && gcs < 10) {
      val h = heapAfterGc()
      gcs += 1
      shrunk = h < heapMb * 0.98
      heapMb = math.min(heapMb, h)
    }
    val liveFiles = sink.liveFiles
    val diskPerRow =
      sink.diskBytes.toDouble / (sink.tables.size * sink.liveRows)

    stage("passes")
    // ---- metrics ----
    val metrics = ArrayBuffer[(String, Double, String)]()
    def m(name: String, v: Double, unit: String): Unit =
      metrics += ((name, v, unit))
    val plain = ops.filter(o => !o.traced && o.ok && o.pass >= 0)
    val qLat = plain.filter(_.kind == "query").map(_.latency)
    val wLat = plain.filter(_.kind == "upsert").map(_.latency)
    val sLat = plain.filter(_.kind == "scan").map(_.latency)
    val tailQ = Stats.tailQ(qLat.size)
    val wTailQ = Stats.tailQ(wLat.size)
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def q(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) Double.NaN else Stats.quantile(xs, p)
    val writes = plain.filter(o => o.kind == "upsert" || o.kind == "compact")
    if (!c.trace) {
      m("setup_s", med(setupS.toSeq), "s")
      m("wall_s", med(walls.filterNot(_._2).map(_._3).toSeq), "s")
      m("query_p50_s", med(qLat.toSeq), "s")
      m("query_p90_s", q(qLat.toSeq, tailQ), "s")
      m("upsert_p50_s", med(wLat.toSeq), "s")
      m("upsert_p90_s", q(wLat.toSeq, wTailQ), "s")
      m("scan_p50_s", med(sLat.toSeq), "s")
      m("write_bytes_per_row", writes.map(_.delta.bytesWritten).sum.toDouble /
        math.max(1L, writes.map(_.rows).sum), "B/row")
      m("disk_bytes_per_live_row", diskPerRow, "B/row")
      m("retained_heap_mb", heapMb, "MB")
    } else {
      tracer.drain()
      val tOps = ops.filter(o => o.traced && o.ok)
      val phases = tracer.phases.toArray(Array.empty[Phases])
      def cnt(o: Op, phase: String): GroupCounters =
        tracer.counters(s"op${o.id}:$phase")
      def both(o: Op)(f: GroupCounters => Long): Long =
        f(cnt(o, "construct")) + f(cnt(o, "execute"))
      def inWindow(o: Op): Seq[Phases] =
        phases.filter(p => p.startMs >= o.startMs && p.startMs <= o.endMs)
          .toSeq
      layers.foreach { l =>
        val os = tOps.filter(_.layer == l)
        val n = math.max(1, os.map(_.pass).distinct.size).toDouble
        def sum(f: Op => Double): Double = os.map(f).sum / n
        val cs = sum(_.constructS)
        val es = sum(_.execS)
        val cpu = sum(o => both(o)(_.cpuNs.get) / 1e9)
        m(s"$l.construct_s", cs, "s")
        m(s"$l.construct_jobs", sum(o => cnt(o, "construct").jobs.get.toDouble),
          "count")
        m(s"$l.analyze_s", sum(o => inWindow(o).map(_.analysisMs).sum / 1e3),
          "s")
        m(s"$l.optimize_s",
          sum(o => inWindow(o).map(_.optimizationMs).sum / 1e3), "s")
        m(s"$l.plan_s", sum(o => inWindow(o).map(_.planningMs).sum / 1e3), "s")
        m(s"$l.exec_s", es, "s")
        m(s"$l.jobs", sum(o => both(o)(_.jobs.get).toDouble), "count")
        m(s"$l.tasks", sum(o => both(o)(_.tasks.get).toDouble), "count")
        m(s"$l.executor_cpu_s", cpu, "s")
        m(s"$l.gc_s", sum(o => both(o)(_.gcMs.get) / 1e3), "s")
        m(s"$l.scheduler_delay_s", sum(o => both(o)(_.schedDelayMs.get) / 1e3),
          "s")
        m(s"$l.shuffle_write_bytes",
          sum(o => both(o)(_.shuffleWrite.get).toDouble), "B")
        m(s"$l.spill_bytes", sum(o => both(o)(_.spill.get).toDouble), "B")
        m(s"$l.input_bytes", sum(o => both(o)(_.input.get).toDouble), "B")
        m(s"$l.single_task_stages",
          sum(o => both(o)(_.singleTaskStages.get).toDouble), "count")
        m(s"$l.cpu_util",
          if (cs + es > 0) cpu / ((cs + es) * cores) else 0.0, "ratio")
      }
      val tPasses = math.max(1, walls.count(_._2)).toDouble
      val ups = tOps.filter(_.kind == "upsert")
      val wr = tOps.filter(o => o.kind == "upsert" || o.kind == "compact")
      val cmp = tOps.filter(_.kind == "compact")
      val scans = tOps.filter(_.kind == "scan")
      m("sources.upsert_s", ups.map(_.latency).sum / tPasses, "s")
      m("sources.upsert_jobs", ups.map(o => both(o)(_.jobs.get)).sum / tPasses,
        "count")
      m("sources.upsert_executor_cpu_s",
        ups.map(o => both(o)(_.cpuNs.get) / 1e9).sum / tPasses, "s")
      m("sources.bytes_written",
        wr.map(_.delta.bytesWritten).sum / tPasses, "B")
      m("sources.files_written",
        wr.map(_.delta.filesWritten).sum / tPasses, "count")
      m("sources.log_bytes_written",
        wr.map(_.delta.logBytesWritten).sum / tPasses, "B")
      m("sources.partitions_rewritten",
        wr.map(_.delta.partitionsRewritten).sum / tPasses, "count")
      m("sources.files_deleted",
        wr.map(_.delta.filesDeleted).sum / tPasses, "count")
      m("sources.live_files", liveFiles.toDouble, "count")
      m("sources.scan_files_read",
        if (scans.isEmpty) 0.0 else scans.map(_.scanFiles).sum.toDouble /
          scans.size, "count")
      m("sources.compact_s", cmp.map(_.latency).sum / tPasses, "s")
      m("sources.compact_bytes_rewritten",
        cmp.map(_.delta.bytesWritten).sum / tPasses, "B")
      m("tables.load_s", med(tablesS.toSeq), "s")
      m("env.scheduler_noop_s", schedNoop, "s")
      m("env.cpu_spin_s", cpuSpin, "s")
      m("trace.overhead_ratio", med(walls.filter(_._2).map(_._3).toSeq) /
        med(walls.filter(w => !w._2 && w._1 > 0).map(_._3).toSeq), "ratio")
      c.traceOut.foreach { path =>
        val runSpan = tracer.record(0, "run", 0, ops.head.startMs,
          ops.last.endMs)
        val passSpan = scala.collection.mutable.Map[Int, Long]()
        tOps.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (p, os) =>
          passSpan(p) = tracer.record(runSpan, s"pass $p", 0,
            os.map(_.startMs).min, os.map(_.endMs).max)
        }
        tOps.foreach { o =>
          val opSpan = tracer.record(passSpan(o.pass),
            s"op ${o.kind} ${o.name} [${o.layer}]", o.id, o.startMs, o.endMs)
          val mid = o.startMs + math.round(o.constructS * 1000)
          tracer.record(opSpan, "construct", o.id, o.startMs, mid)
          tracer.record(opSpan, "execute", o.id, mid, o.endMs)
          inWindow(o).foreach { p =>
            var s = p.startMs
            Seq("analysis" -> p.analysisMs, "optimization" -> p.optimizationMs,
              "planning" -> p.planningMs).foreach { case (k, d) =>
              tracer.record(opSpan, s"catalyst.$k", o.id, s, s + d)
              s += d
            }
          }
        }
        tracer.dump(Paths.get(path))
      }
    }

    stage("metrics")
    // ---- run record ----
    def opJson(o: Op): String = Json.obj(Seq(
      "pass" -> o.pass.toString, "traced" -> o.traced.toString,
      "id" -> o.id.toString, "name" -> Json.str(o.name),
      "kind" -> Json.str(o.kind), "layer" -> Json.str(o.layer),
      "construct_s" -> Json.num(o.constructS), "exec_s" -> Json.num(o.execS),
      "ok" -> o.ok.toString,
      "jobs_construct" -> tracer.counters(s"op${o.id}:construct").jobs.get
        .toString,
      "jobs" -> (tracer.counters(s"op${o.id}:construct").jobs.get +
        tracer.counters(s"op${o.id}:execute").jobs.get).toString,
      "single_task_stages" ->
        (tracer.counters(s"op${o.id}:construct").singleTaskStages.get +
          tracer.counters(s"op${o.id}:execute").singleTaskStages.get).toString,
      "rows" -> o.rows.toString,
      "bytes_written" -> o.delta.bytesWritten.toString))
    val failed = failures.size.toLong
    val record = Json.obj(Seq(
      "workload" -> Json.str(c.workload), "seed" -> c.seed.toString,
      "trace" -> (if (c.trace) "1" else "0"), "sweep" -> c.sweep.toString,
      "seconds" -> c.seconds.toString, "cores" -> cores.toString,
      "sf_dir" -> Json.str(c.data),
      "confs" -> Json.obj(confs.map { case (k, v) => k -> Json.str(v) }),
      "env" -> Json.obj(Seq("scheduler_noop_s" -> Json.num(schedNoop),
        "cpu_spin_s" -> Json.num(cpuSpin))),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "fail_ratio" -> Json.num(failed.toDouble / math.max(1L, attempted)),
      "failures" -> Json.arr(failures.toSeq.map(f => Json.obj(Seq(
        "workload" -> Json.str(f.workload), "op" -> Json.str(f.op),
        "exception" -> Json.str(f.cls), "message" -> Json.str(f.msg))))),
      "count_only" -> Json.arr(countOnly.toSeq.map(Json.str)),
      "query_tail_quantile" -> Json.num(tailQ),
      "upsert_tail_quantile" -> Json.num(wTailQ),
      "samples" -> Json.obj(Seq("query" -> qLat.size.toString,
        "upsert" -> wLat.size.toString, "scan" -> sLat.size.toString)),
      "setup_reps_s" -> Json.arr(setupS.toSeq.map(Json.num)),
      "stages_s" -> Json.obj(stages.toSeq.map { case (k, v) =>
        k -> Json.num(v) }),
      "passes" -> Json.arr(walls.toSeq.map { case (p, t, w) =>
        Json.obj(Seq("pass" -> p.toString, "traced" -> t.toString,
          "wall_s" -> Json.num(w))) }),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "ops" -> Json.arr(ops.toSeq.map(opJson))))
    Files.writeString(Paths.get(c.out), record + "\n")
    spark.stop()
  }
}
