package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the engine's input layout: one plain
  * parquet file `<dir>/<table>.parquet` per table, with the schemas the
  * engine's readers expect (TPC-H-like star schema, an event stream, a
  * token corpus and labelled 64-dim embeddings).
  *
  * Every value is a pure function of (seed, table, row key), computed with
  * `xxhash64`, so the same (sf, seed) yields the same files on any
  * partitioning. Row counts follow the usual scale factor: 1.5M orders
  * and about 6M line items per unit of `sf`. */
object Gen {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("the", "a", "data", "table", "row", "column",
    "value", "key", "join", "scan", "filter", "sort", "group", "agg", "hash",
    "window", "query", "spark", "stream", "batch", "merge", "part", "order",
    "line", "customer", "vector", "small", "big", "fast", "slow", "index",
    "shard", "cache", "plan", "task", "stage", "shuffle", "spill", "load",
    "write")

  final class Rand(seed: Long) {
    private def h(salt: Int, cs: Column*): Column =
      xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    /** Uniform integer in [0, n). */
    def int(n: Long, salt: Int, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
    /** Uniform double in [0, 1) with 1e-6 resolution. */
    def unit(salt: Int, cs: Column*): Column = int(1000000L, salt, cs: _*) / 1e6
    def pickOf(vals: Seq[String], salt: Int, cs: Column*): Column =
      element_at(array(vals.map(lit): _*), (int(vals.size, salt, cs: _*) + 1).cast("int"))
  }

  def counts(sf: Double): Map[String, Long] = Map(
    "customer" -> math.max(150L, (150000 * sf).toLong),
    "supplier" -> math.max(10L, (10000 * sf).toLong),
    "part" -> math.max(200L, (200000 * sf).toLong),
    "orders" -> math.max(1500L, (1500000 * sf).toLong),
    "events" -> math.max(1000L, (1000000 * sf).toLong),
    "users" -> math.max(15L, (15000 * sf).toLong),
    "documents" -> math.max(500L, (50000 * sf).toLong),
    "embeddings" -> math.max(500L, (20000 * sf).toLong))

  def table(s: SparkSession, name: String, sf: Double, seed: Long): DataFrame = {
    import s.implicits._
    val r = new Rand(seed)
    val n = counts(sf)
    val id = col("id")
    def money(lo: Long, hi: Long, salt: Int, cs: Column*): Column =
      ((r.int(hi - lo, salt, cs: _*) + lo) / 100.0).cast("double")
    // order date as a day offset, shared by orders and lineitem
    def orderDate(ok: Column): Column =
      date_add(lit("1995-01-01").cast("date"), r.int(2404, 13, ok).cast("int"))
    name match {
      case "region" =>
        Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
          (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
      case "nation" =>
        (0 until 25).map(i => (i, s"NATION_$i", i % 5))
          .toDF("n_nationkey", "n_name", "n_regionkey")
      case "customer" =>
        s.range(n("customer")).select(
          id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          r.int(25, 1, id).cast("int").as("c_nationkey"),
          money(-99999, 1000000, 2, id).as("c_acctbal"),
          r.pickOf(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"), 3, id).as("c_mktsegment"))
      case "supplier" =>
        s.range(n("supplier")).select(
          id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          r.int(25, 4, id).cast("int").as("s_nationkey"),
          money(-99999, 1000000, 5, id).as("s_acctbal"))
      case "part" =>
        s.range(n("part")).select(
          id.as("p_partkey"),
          concat_ws(" ",
            r.pickOf(Seq("red", "blue", "green", "small", "large", "steel",
              "brass", "black"), 6, id),
            r.pickOf(Seq("widget", "bolt", "anvil", "ring", "gear", "valve",
              "spring", "clamp"), 7, id)).as("p_name"),
          concat(lit("Brand#"), (r.int(25, 8, id) + 1).cast("string")).as("p_brand"),
          r.pickOf(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
            "STANDARD"), 9, id).as("p_type"),
          (r.int(50, 10, id) + 1).cast("int").as("p_size"),
          round(lit(900.0) + pmod(id, lit(1000L)) / 10.0, 1).as("p_retailprice"))
      case "orders" =>
        s.range(n("orders")).select(
          id.as("o_orderkey"),
          r.int(n("customer"), 11, id).as("o_custkey"),
          r.pickOf(Seq("F", "O", "P"), 12, id).as("o_orderstatus"),
          money(100000, 50000000, 14, id).as("o_totalprice"),
          orderDate(id).cast("timestamp").as("o_orderdate"),
          r.pickOf(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
            "5-LOW"), 15, id).as("o_orderpriority"))
      case "lineitem" =>
        val ln = col("l_linenumber")
        val part = r.int(n("part"), 17, id, ln)
        val qty = (r.int(50, 19, id, ln) + 1).cast("double")
        s.range(n("orders"))
          .withColumn("l_linenumber",
            explode(sequence(lit(1), (r.int(7, 16, id) + 1).cast("int"))))
          .select(
            id.as("l_orderkey"),
            part.as("l_partkey"),
            r.int(n("supplier"), 18, id, ln).as("l_suppkey"),
            ln,
            qty.as("l_quantity"),
            round(qty * (lit(900.0) + pmod(part, lit(1000L)) / 10.0), 2)
              .as("l_extendedprice"),
            (r.int(11, 20, id, ln) / 100.0).as("l_discount"),
            (r.int(9, 21, id, ln) / 100.0).as("l_tax"),
            r.pickOf(Seq("A", "N", "R"), 22, id, ln).as("l_returnflag"),
            r.pickOf(Seq("F", "O"), 23, id, ln).as("l_linestatus"),
            date_add(orderDate(id), (r.int(121, 24, id, ln) + 1).cast("int"))
              .cast("timestamp").as("l_shipdate"))
      case "events" =>
        val ne = n("events")
        val stepUs = 30L * 86400L * 1000000L / ne
        s.range(ne).select(
          id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) + id * stepUs +
            r.int(stepUs, 25, id)).as("ts"),
          r.int(n("users"), 26, id).as("user_id"),
          r.pickOf(Seq("click", "view", "purchase", "signup", "error"), 27, id)
            .as("event_type"),
          (round(-log(lit(1.0) - r.unit(28, id)) * 50.0, 2) + 0.01).as("value"),
          format_string("{\"k\": %d}", r.int(100, 29, id)).as("props"))
      case "documents" =>
        val nd = n("documents")
        // 10% of documents copy an earlier one: half verbatim, half with
        // one token replaced, so the dedup and near-dup paths find work
        val dup = r.int(10, 30, id) === 0 && id > 0
        val base = when(dup, r.int(nd, 31, id) % greatest(id, lit(1L))).otherwise(id)
        val mutate = dup && r.int(2, 32, id) === 0
        val len = (r.int(90, 33, base) + 10).cast("int")
        val words = array(Vocab.map(lit): _*)
        val text = concat_ws(" ", transform(sequence(lit(1), len), i => {
          // squared uniform skews token frequencies toward the head
          val u = r.unit(34, base, i)
          val w = element_at(words, (floor(u * u * Vocab.size) + 1).cast("int"))
          when(mutate && i === 3, lit("delta")).otherwise(w)
        }))
        s.range(nd).select(id.as("doc_id"), text.as("text"),
          r.pickOf(Seq("en", "en", "en", "de", "es", "fr", "zh"), 35, id).as("lang"),
          concat(lit("src"), r.int(20, 36, id).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        val label = r.int(10, 37, id)
        val raw = transform(sequence(lit(0), lit(63)), j =>
          (r.unit(38, label, j) - 0.5) + (r.unit(39, id, j) - 0.5) * 0.6)
        val norm = sqrt(aggregate(raw, lit(0.0), (a, x) => a + x * x))
        s.range(n("embeddings")).select(
          id.as("vec_id"),
          transform(raw, x => (x / norm).cast("float")).as("embedding"),
          label.cast("int").as("label"))
      case other => throw new IllegalArgumentException(s"unknown table $other")
    }
  }

  /** Write every table under `dir` unless a completion marker says an
    * identical generation is already there; returns seconds spent. */
  def ensure(s: SparkSession, dir: String, sf: Double, seed: Long): Double = {
    val marker = Paths.get(dir, "_COMPLETE")
    val stamp = s"sf=$sf seed=$seed"
    if (Files.exists(marker) && Files.readString(marker) == stamp) return 0.0
    val t0 = System.nanoTime()
    Fs.deleteTree(Paths.get(dir))
    Files.createDirectories(Paths.get(dir))
    Tables.foreach(t => writeOne(table(s, t, sf, seed), dir, t))
    Files.writeString(marker, stamp)
    (System.nanoTime() - t0) / 1e9
  }

  private def writeOne(df: DataFrame, dir: String, table: String): Unit = {
    val tmp = Paths.get(dir, s".tmp_$table")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val parts = Fs.list(tmp).filter(p => p.getFileName.toString.endsWith(".parquet"))
    require(parts.size == 1, s"expected one part file for $table, got $parts")
    Files.move(parts.head, Paths.get(dir, s"$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Fs.deleteTree(tmp)
  }
}

/** Small local-filesystem helpers. */
object Fs {
  def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close() }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** Total bytes and regular-file count under `p`. */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L; var files = 0L
        s.filter(x => Files.isRegularFile(x)).forEach { x => bytes += Files.size(x); files += 1 }
        (bytes, files)
      } finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { x =>
      val t = dst.resolve(src.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t) else Files.copy(x, t)
    } finally s.close()
  }
}
