package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.FlowEngine
import graft.engine.{Sources, Types, Warm}

/** One timed operation of a workload. */
final case class Op(name: String, group: String, seconds: Double, var ok: Boolean)

/** Runs one workload in a closed loop with one client thread: set up, then
  * repeat the workload's pass (its fixed unit of work) as often as fits
  * `seconds` at the pass's nominal length on a 4-core machine, at least
  * once. The pass count depends on `seconds` alone, never on measured
  * speed, so a run does the same work on every commit. Correctness checks
  * between operations are not timed. Every attempted operation is kept;
  * nothing is retimed. */
final class Runner(state: Path, bench: Path, root: Path, workload: String,
    seed: Long, seconds: Double, traceOn: Boolean, out: Path, entryNs: Long) {

  private val tracer = new Tracer(traceOn, s"$workload-$seed-${ProcessHandle.current.pid}")
  private val ops = mutable.ArrayBuffer.empty[Op]
  /** Per-layer metrics; every name is present on every workload, 0 where
    * the layer does no work. */
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private lazy val inventoryGoldens = Goldens.read(bench.resolve("goldens/inventory.tsv"))

  private var spark: SparkSession = _

  private trait Workload {
    /** Seconds one pass takes on a 4-core machine at the seed commit. */
    def nominalPassS: Double
    def setup(): Unit
    def pass(i: Int): Unit
    /** Per-layer measurements taken after the timed section; extra work
      * here (beyond reading what was measured) runs only when traced. */
    def finish(passes: Int): Unit
  }

  /** Time `body` as operation `name`; a throw counts as a failed op. */
  private def op(name: String, group: String)(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    val ok = try tracer.span(group, name)(body) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] op $name failed: $e"); false
    }
    val o = Op(name, group, (System.nanoTime() - t0) / 1e9, ok)
    ops += o
    o
  }

  private def check(o: Op, what: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case NonFatal(e) => System.err.println(e); false }
    if (!ok) { System.err.println(s"[perfbench] check failed after ${o.name}: $what"); o.ok = false }
  }

  def run(): Int = {
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val startMs = System.currentTimeMillis()
    LayerKeys.foreach(layer(_) = 0.0)
    inventoryGoldens.foreach { case (q, _) => layer(s"query.${q}_s") = 0.0 }
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var sectionS = 0.0
    var writtenB = 0L
    var setupS = 0.0
    var stealShare = 0.0
    var liveHeapB = 0L
    tracer.span("bench", s"run:$seed") {
      val (s, startS) = tracer.timed("engine.Sessions", "session.start")(Main.session())
      spark = s
      layer("session.start_s") = startS
      val meter = if (traceOn) Some(new SparkMeter) else None
      meter.foreach(spark.sparkContext.addSparkListener)
      val w: Workload = workload match {
        case "inventory_warm" => new Inventory
          case "etl_facade" => new Etl
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      tracer.span("bench", s"workload:$workload") {
        tracer.span("bench", "setup")(w.setup())
        setupS = (System.nanoTime() - entryNs) / 1e9
        liveHeapB = Proc.liveHeapBytes()
        val m0 = meter.map(settled)
        val io0 = Proc.writtenBytes()
        val cpu0 = Proc.cpuTicks()
        val t0 = System.nanoTime()
        val passes = math.max(1, math.round(seconds / w.nominalPassS).toInt)
        for (i <- 0 until passes) {
          val first = ops.size
          tracer.span("bench", s"pass:$i")(w.pass(i))
          passWalls += ops.drop(first).map(_.seconds).sum
          liveHeapB = math.max(liveHeapB, Proc.liveHeapBytes())
        }
        sectionS = (System.nanoTime() - t0) / 1e9
        writtenB = Proc.writtenBytes() - io0
        val cpu1 = Proc.cpuTicks()
        stealShare = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
        meter.foreach { m =>
          val m1 = settled(m)
          m1.foreach { case (k, v) => layer(k) = v - m0.get(k) }
          layer("spark.cpu_util") = layer("spark.executor_cpu_s") / (sectionS * Main.cores)
        }
        tracer.span("bench", "finish")(w.finish(passWalls.size))
      }
    }
    val lat = ops.map(_.seconds).toIndexedSeq
    val failed = ops.count(!_.ok)
    val e2e = Seq(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(passWalls.toIndexedSeq),
      "op_p50_s" -> Stats.median(lat),
      "op_p90_s" -> Stats.percentile(lat, 90),
      "fail_share" -> failed.toDouble / math.max(1, ops.size),
      "live_heap_mb" -> liveHeapB / (1024.0 * 1024.0),
      "peak_rss_mb" -> Proc.peakRssKb() / 1024.0,
      "written_mb" -> writtenB / (1024.0 * 1024.0))
    if (traceOn)
      tracer.write(state.resolve(s"traces/$workload-$seed.jsonl"))
    val meta = Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed), "start_ms" -> Json.num(startMs),
      "trace" -> Json.num(if (traceOn) 1L else 0L), "cores" -> Json.num(Main.cores.toLong),
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1024L * 1024L)),
      "loadavg_start" -> Json.num(load), "steal_share" -> Json.num(stealShare),
      "passes" -> Json.num(passWalls.size.toLong),
      "section_s" -> Json.num(sectionS), "ops" -> Json.num(ops.size.toLong),
      "attempted" -> Json.num(ops.size.toLong), "failed" -> Json.num(failed.toLong))
    val metrics = (e2e ++ layer.toSeq).map { case (k, v) => k -> Json.num(v) }
    Files.createDirectories(out.getParent)
    Files.writeString(out, Json.obj(meta :+ ("metrics" -> Json.obj(metrics))) + "\n")
    0
  }

  /** A listener snapshot once the bus has caught up with finished jobs. */
  private def settled(m: SparkMeter): Map[String, Double] = {
    var prev = m.snapshot
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 40) {
      Thread.sleep(50); waited += 1
      val now = m.snapshot
      if (now == prev) stable += 1 else { stable = 0; prev = now }
    }
    prev
  }

  private def rootStats(r: StageRoot): Unit = {
    val (bytes, files) = Fs.usage(root)
    layer("stages.bytes") = bytes.toDouble
    layer("stages.files") = files.toDouble
    layer("stages.published") = r.pointers.size.toDouble
    layer("stages.orphans") = r.orphans.size.toDouble
  }

  /** Every declared query of the frozen subset, in declaration order, on
    * the base fixture with its stages published before the run. */
  private final class Inventory extends Workload {
    val nominalPassS = 20.0
    private val base = Main.baseDir(state)
    private val golden = inventoryGoldens.toMap
    private lazy val stageGolden = Goldens.read(bench.resolve("goldens/stages.tsv")).toMap
    private val declared = graft.SparkEntry.queries
    private val family = Runner.families
    // declaration order; a golden the engine no longer declares is run
    // (and fails) at the end
    private val order = declared.keys.filter(golden.contains).toSeq ++
      inventoryGoldens.map(_._1).filterNot(declared.contains)

    def setup(): Unit = {
      val before = StageRoot.read(root)
      layer("stages.pointer_hit_s") =
        tracer.timed("engine.Warm", "stages.pointer_hit")(Warm.stages(spark, base))._2
      val after = StageRoot.read(root)
      layer("stages.rebuilt_on_hit") = (after.pointers.toSet -- before.pointers.toSet).size.toDouble
    }

    def pass(i: Int): Unit = order.foreach { q =>
      val fam = family.getOrElse(q, "undeclared")
      op(q, s"query.$fam") {
        val f = declared(q)
        val df = tracer.span("query.phase", "construct")(f(spark, base))
        tracer.span("query.phase", "plan")(df.queryExecution.executedPlan)
        val d = tracer.span("query.phase", "exec")(RowHash.run(df))
        if (d != golden(q)) System.err.println(s"[perfbench] $q: got ${d.rows}/${d.hex}, " +
          s"golden ${golden(q).rows}/${golden(q).hex}")
        d == golden(q)
      }
      spark.catalog.clearCache()
    }

    def finish(passes: Int): Unit = {
      ops.groupBy(_.group).foreach { case (g, os) =>
        layer(s"family.${g.stripPrefix("query.")}_s") = os.map(_.seconds).sum / passes
      }
      ops.groupBy(_.name).foreach { case (q, os) => layer(s"query.${q}_s") = os.map(_.seconds).sum / passes }
      tracer.all.filter(_.layer == "query.phase").groupBy(_.name).foreach { case (ph, ss) =>
        layer(s"query.${ph}_s") = ss.map(_.seconds).sum / passes
      }
      rootStats(StageRoot.read(root))
      if (traceOn) {
        layer("stages.memo_hit_s") =
          tracer.timed("engine.Warm", "stages.memo_hit")(Warm.stages(spark, base))._2
        coldBuild()
      }
    }

    /** Every stage of a fresh copy of the fixture, built into the same root
      * (the copy's path gives it new stage keys), checked against the stage
      * goldens and removed again, so the published root stays as it was. */
    private def coldBuild(): Unit = {
      val in = state.resolve("work/cold-in")
      Fs.deleteTree(in); Fs.copyTree(java.nio.file.Paths.get(base), in)
      val before = StageRoot.read(root)
      val o = op("warm.stages", "engine.Warm") { Warm.stages(spark, in.toString); true }
      layer("stages.build_s") = o.seconds
      val after = StageRoot.read(root)
      val fresh = after.pointers.keySet -- before.pointers.keySet
      // every golden stage must be built and match; a new stage without a
      // golden is a change of the workload rather than a wrong result and
      // is only reported
      check(o, "published stages match the goldens") {
        val got = Runner.stageDigests(spark, root, fresh).toMap
        (got.keySet -- stageGolden.keySet).foreach(n =>
          System.err.println(s"[perfbench] stage $n has no golden"))
        stageGolden.forall { case (n, want) =>
          val ok = got.get(n).contains(want)
          if (!ok) System.err.println(s"[perfbench] stage $n: got ${got.get(n).fold("nothing")(d =>
            s"${d.rows}/${d.hex}")}, golden ${want.rows}/${want.hex}")
          ok
        }
      }
      (fresh ++ (after.dirs -- before.dirs)).foreach(n => Fs.deleteTree(root.resolve(n)))
      Fs.deleteTree(in)
    }
  }

  /** Repeated `FlowEngine` cycles against a warehouse table built from
    * the base fixture's line items, at the reference's batch sizes:
    * 10k-row appends and a 1,000-record keyed update. Keys and values come
    * from the run seed; each cycle deletes the keys it added, so the table
    * keeps its size. */
  private final class Etl extends Workload {
    val nominalPassS = 6.0
    private val wh = state.resolve("work/etl")
    private val sales = wh.resolve("sales.parquet").toString
    private val stage = wh.resolve("sales_stage.parquet").toString
    private val keys = Seq("l_orderkey", "l_linenumber")
    private val Batch = 10000
    private val Updates = 1000
    private var fe: FlowEngine = _
    private var n0 = 0L
    private var keyPairs: Array[(Long, Int)] = _
    private var rowBytes = 0.0
    private var startBytes = 0L
    private var userBytes = 0.0
    private var writtenFiles = 0L
    private var writtenBytes = 0L
    private val flowOps = mutable.ArrayBuffer.empty[Op]

    private def rowsIn(path: String): Long = spark.read.parquet(path).count()

    private def files(): Map[String, Long] = {
      val s = Files.walk(wh)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

    /** A facade call: timed as an op, with the files it wrote counted. */
    private def flow(name: String, rowsChanged: Long)(body: => Unit): Op = {
      val before = files()
      val o = op(name, "api.FlowEngine") { body; true }
      val fresh = files() -- before.keySet
      writtenFiles += fresh.size
      writtenBytes += fresh.values.sum
      userBytes += rowsChanged * rowBytes
      flowOps += o
      o
    }

    def setup(): Unit = {
      Fs.deleteTree(wh); Files.createDirectories(wh)
      val src = Sources.lineitem(spark, Main.baseDir(state))
      src.write.parquet(sales)
      src.limit(0).write.parquet(stage)
      fe = new FlowEngine(spark, wh.toString)
      layer("flow.connect_s") = tracer.timed("api.FlowEngine", "connect")(fe.connect().get)._2
      keyPairs = spark.read.parquet(sales).select(keys.map(col): _*).collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      n0 = keyPairs.length.toLong
      startBytes = Fs.usage(wh)._1
      rowBytes = Fs.usage(java.nio.file.Paths.get(sales))._1.toDouble / n0
    }

    /** `n` distinct existing keys, drawn from the seed and cycle. */
    private def pickKeys(rng: java.util.SplittableRandom, n: Int): Seq[(Long, Int)] = {
      val idx = mutable.LinkedHashSet.empty[Int]
      while (idx.size < n) idx += rng.nextInt(keyPairs.length)
      idx.toSeq.map(keyPairs(_))
    }

    def pass(c: Int): Unit = {
      val rng = new java.util.SplittableRandom(seed * 1000003L + c)
      val salt = rng.nextLong()
      val newBase = 1000000000000L + (rng.nextLong() & 0xffffffL) * 100000L
      val hashQ = (pmod(xxhash64(lit(salt), col("l_orderkey"), col("l_linenumber")), lit(50L)) + 1)
        .cast("double")

      // 1-3: stage 10k changed rows, merge them, truncate the staging table
      val sp = spark
      import sp.implicits._
      val table = spark.read.parquet(sales)
      val changed = table.join(broadcast(pickKeys(rng, Batch).toDF(keys: _*)), keys)
        .withColumn("l_quantity", hashQ).select(table.columns.toIndexedSeq.map(col): _*)
      val o1 = flow("insert_data", Batch)(fe.insertData("sales_stage", changed))
      check(o1, "staging table holds the batch")(rowsIn(stage) == Batch)
      val o2 = flow("update_from_table", Batch)(
        fe.updateFromTable("sales", spark.read.parquet(stage), keys))
      check(o2, "merged values landed, row count kept") {
        val st = spark.read.parquet(stage).select(keys.map(col) :+ lit(true).as("staged"): _*)
        val r = spark.read.parquet(sales).join(st, keys, "left")
          .agg(count(lit(1)), count(when(col("staged") && col("l_quantity") =!= hashQ, 1)))
          .head()
        r.getLong(0) == n0 && r.getLong(1) == 0
      }
      val o3 = flow("truncate", Batch)(fe.truncateTable("sales_stage"))
      check(o3, "staging table empty and readable") {
        val st = spark.read.parquet(stage)
        def fields(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
        st.count() == 0 && fields(st) == fields(spark.read.parquet(sales))
      }

      // 4: keyed update of 1,000 in-memory records
      val schema = StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_tax", DoubleType)))
      val upd = pickKeys(rng, Updates).map { case (k, ln) =>
        new GenericRowWithSchema(Array[Any](k, ln, (rng.nextInt(9) + 100) / 100.0), schema): Row
      }
      val o4 = flow("update_data", Updates)(fe.updateData("sales", upd, keys))
      check(o4, "updated values landed, row count kept") {
        val u = spark.createDataFrame(spark.sparkContext.parallelize(upd), schema)
          .withColumnRenamed("l_tax", "want")
        val r = spark.read.parquet(sales).join(u, keys, "left")
          .agg(count(lit(1)), count(when(col("want").isNotNull && col("l_tax") =!= col("want"), 1)))
          .head()
        r.getLong(0) == n0 && r.getLong(1) == 0
      }

      // 5: append 10k rows under new keys
      val fresh = spark.read.parquet(sales).orderBy(keys.map(col): _*)
        .limit(Batch).withColumn("l_orderkey", col("l_orderkey") + lit(newBase))
        .withColumn("l_quantity", hashQ)
      val o5 = flow("insert_data", Batch)(fe.insertData("sales", fresh))
      check(o5, "appended rows visible")(rowsIn(sales) == n0 + Batch)

      // 6: full extract with a coercion spec, evaluated to completion
      val spec = Types.CoercionSpec(categoryColumns = Seq("l_returnflag", "l_linestatus"),
        floatColumns = Seq("l_quantity"), decimalColumns = Seq("l_extendedprice"))
      var got: (StructType, Digest) = null
      val o6 = flow("get_data", 0) {
        val df = fe.getData("SELECT * FROM sales", spec).get
        got = (df.schema, RowHash.run(df))
      }
      check(o6, "extract sees every row with the coerced types") {
        got._2.rows == n0 + Batch && got._1("l_extendedprice").dataType == DecimalType(38, 20)
      }

      // 7: delete this cycle's new keys
      val o7 = flow("delete_where", Batch)(
        fe.deleteDataWithConditions("sales", s"l_orderkey >= $newBase"))
      check(o7, "new keys gone, size restored") {
        val r = spark.read.parquet(sales)
          .agg(count(lit(1)), count(when(col("l_orderkey") >= newBase, 1))).head()
        r.getLong(0) == n0 && r.getLong(1) == 0
      }
    }

    def finish(passes: Int): Unit = {
      flowOps.groupBy(_.name).foreach { case (n, os) =>
        layer(s"flow.${n}_p50_s") = Stats.median(os.map(_.seconds).toIndexedSeq)
      }
      layer("sinks.write_amp") = writtenBytes / math.max(1.0, userBytes)
      layer("sinks.files_written") = writtenFiles.toDouble
      layer("sinks.table_files_end") = Fs.list(java.nio.file.Paths.get(sales))
        .count(_.getFileName.toString.endsWith(".parquet")).toDouble
      layer("sinks.space_amp") = Fs.usage(wh)._1.toDouble / startBytes
    }
  }

  /** Per-layer metric names every run reports (plus one `query.<q>_s` per
    * inventory query). */
  private val LayerKeys = Seq("session.start_s",
    "family.relational_s", "family.events_s", "family.text_s", "family.sketch_s", "family.diag_s",
    "query.construct_s", "query.plan_s", "query.exec_s",
    "stages.build_s", "stages.pointer_hit_s", "stages.memo_hit_s", "stages.bytes",
    "stages.files", "stages.published", "stages.rebuilt_on_hit", "stages.orphans",
    "flow.connect_s", "flow.get_data_p50_s", "flow.insert_data_p50_s",
    "flow.update_data_p50_s", "flow.update_from_table_p50_s", "flow.delete_where_p50_s",
    "flow.truncate_p50_s",
    "sinks.write_amp", "sinks.files_written", "sinks.table_files_end", "sinks.space_amp",
    "spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.cpu_util", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.input_mb", "spark.gc_s")
}

object Runner {
  /** Query name → declaring registry. */
  def families: Map[String, String] = {
    import graft.engine._
    Seq("relational" -> graft.Registry.relational, "events" -> EventsRegistry.entries,
      "text" -> TextRegistry.entries, "sketch" -> SketchRegistry.entries,
      "diag" -> DiagRegistry.entries)
      .flatMap { case (fam, es) => es.map(_._1 -> fam) }.toMap
  }

  /** Digest of each stage a pointer in `ptrs` publishes, by stage name. */
  def stageDigests(spark: SparkSession, root: Path, ptrs: Set[String]): Seq[(String, Digest)] = {
    val r = StageRoot.read(root)
    ptrs.toSeq.sorted.map { p =>
      StageRoot.stageName(p) -> RowHash.run(spark.read.parquet(root.resolve(r.pointers(p)).toString))
    }
  }
}

/** Counters of this process, from /proc and the JVM. */
object Proc {
  private def field(file: String, key: String): Long =
    scala.io.Source.fromFile(file).getLines().find(_.startsWith(key))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Bytes this process passed to write(2): data files, shuffle, spill, logs. */
  def writtenBytes(): Long = field("/proc/self/io", "wchar:")

  def peakRssKb(): Long = field("/proc/self/status", "VmHWM:")

  /** Heap the program still holds after full collections. Resident
    * memory does not show this: with a fixed heap it follows the heap size
    * set on the command line, without one the collector's resizing. Spark
    * drops broadcast blocks and listener state only once a collection has
    * found them unreachable, so the last of three collections, 300 ms
    * apart, is the one read. */
  def liveHeapBytes(): Long = {
    System.gc()
    for (_ <- 1 to 2) { Thread.sleep(300); System.gc() }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Machine-wide (steal, total) CPU ticks: the share stolen by the host
    * tells a run slowed by its neighbours from a slower program. */
  def cpuTicks(): (Long, Long) = {
    val t = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1).map(_.toLong)
    (if (t.length > 7) t(7) else 0L, t.sum)
  }
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]; 0 for no samples. */
  def percentile(xs: IndexedSeq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: IndexedSeq[Double]): Double = percentile(xs, 50)
}
