package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.engine.{Sessions, Warm}

/** Entry point of the benchmark program; `perfbench/run.py` drives it.
  *
  *   prepare --state D --bench B
  *                            generate the input fixture under D/data and
  *                            publish the inventory stages under
  *                            D/stages-warm (once per build)
  *   run --state D --bench B --workload W --seed N --seconds S --trace 0|1
  *       --out F              run one workload, write its record to F
  *   goldens --state D --bench B
  *                            (re)write the TSV files under B/goldens from this build
  */
object Main {

  /** The input fixture of every workload. Fixed seed: it is a data set,
    * not a run input; the ETL workload draws its keys and values from the
    * run seed. */
  val BaseSf = 0.01
  val FixtureSeed = 42L

  /** The inventory workload runs every `InventoryStride`-th declared
    * query (a stride that samples all five registries); `goldens` freezes
    * that choice into goldens/inventory.tsv. */
  val InventoryStride = 7

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val mode = argv.headOption.getOrElse("")
    val a = argv.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val state = Paths.get(a("state")).toAbsolutePath
    val workload = a.getOrElse("workload", "")
    // the stage root belongs to the benchmark, one per workload; it must
    // be set before the engine first touches its stage store
    val root = mode match {
      case "run" if workload == "etl_facade" => state.resolve("stages-etl")
      case "goldens" => state.resolve("stages-goldens")
      case _ => stagesWarm(state)
    }
    System.setProperty("graft.stages.dir", root.toString)
    val code =
      try mode match {
        case "prepare" => prepare(state, Paths.get(a("bench"))); 0
        case "goldens" => Goldens.write(state, Paths.get(a("bench")), root, session()); 0
        case "run" => new Runner(state, Paths.get(a("bench")), root, workload, a("seed").toLong,
          a("seconds").toDouble, a("trace") == "1", Paths.get(a("out")), entryNs).run()
        case other => System.err.println(s"unknown mode '$other'"); 2
      } catch {
        case NonFatal(e) => e.printStackTrace(); 1
      }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** A session from the engine's own preset, `local[cores]` with shuffle
    * partitions = cores. */
  def session(): SparkSession = {
    val s = Sessions.tuned(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def baseDir(state: Path): String = state.resolve("data/base").toString

  def stagesWarm(state: Path): Path = state.resolve("stages-warm")

  private def prepare(state: Path, bench: Path): Unit = {
    val spark = session()
    val log = new StringBuilder
    def note(s: String): Unit = { System.err.println(s"[perfbench] $s"); log ++= s + "\n" }
    val g = Gen.ensure(spark, baseDir(state), BaseSf, FixtureSeed)
    note(f"fixture sf=$BaseSf generated in $g%.2f s (0 = reused)")
    val t0 = System.nanoTime()
    Warm.stages(spark, baseDir(state))
    // a query may publish further stages when it is constructed (stage
    // accessors run in the registry call); construct each inventory query
    // once, without executing it, so every run finds its stages published
    val inventory = Goldens.read(bench.resolve("goldens/inventory.tsv")).map(_._1).toSet
    graft.SparkEntry.queries.filter(q => inventory(q._1)).foreach { case (_, f) =>
      f(spark, baseDir(state))
    }
    note(f"${StageRoot.read(stagesWarm(state)).pointers.size} inventory stages published in " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    Files.writeString(state.resolve("prepare.log"), log.toString, StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)
  }
}

/** The published contents of a stage root, read by listing it. */
final case class StageRoot(pointers: Map[String, String], dirs: Set[String]) {
  /** Directories no pointer names: crashed or losing attempts, leftovers. */
  def orphans: Set[String] = dirs -- pointers.values
}

object StageRoot {
  def read(root: Path): StageRoot = {
    val entries = Fs.list(root)
    val ptrs = entries.filter(_.getFileName.toString.endsWith(".ptr")).map { p =>
      val target = Files.readString(p).linesIterator.next().trim
      p.getFileName.toString -> target.substring(target.lastIndexOf('/') + 1)
    }.toMap
    StageRoot(ptrs, entries.filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet)
  }

  /** `<stage>-<12 hex>.ptr` → `<stage>`. */
  def stageName(ptr: String): String = ptr.stripSuffix(".ptr").replaceAll("-[0-9a-f]{12}$", "")
}

/** Frozen expected results: `name<TAB>rows<TAB>hash` per line. */
object Goldens {
  def read(path: Path): Seq[(String, Digest)] =
    Files.readAllLines(path).toArray.toSeq.map(_.toString).filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> Digest(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
    }

  private def writeTsv(path: Path, rows: Seq[(String, Digest)]): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, rows.map { case (n, d) => s"$n\t${d.rows}\t${d.hex}" }.mkString("", "\n", "\n"))
  }

  /** Digests of the inventory subset on the fixture, and of every stage a
    * cold build publishes for a copy of it, both built in the empty root
    * `root`. */
  def write(state: Path, bench: Path, root: Path, spark: SparkSession): Unit = {
    Fs.deleteTree(root)
    val base = Main.baseDir(state)
    val chosen = graft.SparkEntry.queries.toSeq.zipWithIndex
      .collect { case ((n, f), i) if i % Main.InventoryStride == 0 => n -> f }
    writeTsv(bench.resolve("goldens/inventory.tsv"), chosen.map { case (n, f) =>
      val d = RowHash.run(f(spark, base)); spark.catalog.clearCache(); n -> d
    })
    val before = StageRoot.read(root).pointers.keySet
    val copy = state.resolve("work/goldens-in")
    Fs.deleteTree(copy); Fs.copyTree(Paths.get(base), copy)
    Warm.stages(spark, copy.toString)
    writeTsv(bench.resolve("goldens/stages.tsv"),
      Runner.stageDigests(spark, root, StageRoot.read(root).pointers.keySet -- before))
  }
}
