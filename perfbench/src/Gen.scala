package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.GenScale

/** Seeded input generators. Everything is derived from the seed; the
  * program sees only the files written here.
  */
object Gen {

  /** splitmix64-derived stream for choices made outside Spark. */
  final class Rng(seed: Long) {
    private var i = 0L
    def next(): Long = { i += 1; GenScale.h(i, seed) }
    def below(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
  }

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, text)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  private def save(df: DataFrame, dir: Path, name: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.resolve(s"$name.parquet").toString)

  /** Run independent writes as concurrent Spark jobs. */
  private def concurrently(writes: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try writes.map(w => pool.submit(new Runnable { def run(): Unit = w() })).foreach(_.get())
    finally pool.shutdown()
  }

  // ---- documents: GenScale's corpus shape, content offset by the seed ----

  def documents(spark: SparkSession, seed: Long, n: Long, factor: Int): DataFrame = {
    import spark.implicits._
    val vocab = GenScale.vocabFor(factor)
    // a multiple of 25 keeps GenScale's near-duplicate pairing (id % 25)
    val off = (seed & 0xffffL) * 25L * 1000003L
    spark.range(n).map { id =>
      val x = id + off
      val text = GenScale.docText(x, vocab)
      val u = GenScale.u01(x, 6)
      val lang = if (u < 0.41) "en" else if (u < 0.56) "zh"
        else if (u < 0.71) "es" else if (u < 0.86) "fr" else "de"
      (id, text, lang, s"src${(GenScale.h(x, 7) >>> 33).toInt.abs % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  // ---- the ten operator-suite tables, shaped like the sf0.01 test data ----

  /** Write region … embeddings at `scale` × the sf0.01 row counts. */
  def tables(spark: SparkSession, seed: Long, scale: Double, dir: Path): Unit = {
    def rows(base: Long) = math.max(1L, math.round(base * scale))
    def hv(salt: Int): Column = abs(xxhash64(col("id"), lit(seed), lit(salt)))
    def pick(salt: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (hv(salt) % xs.size + 1).cast("int"))
    def u(salt: Int): Column = (hv(salt) % 1000000L).cast("double") / 1000000.0
    def day(from: String, salt: Int, span: Int): Column =
      to_timestamp_ntz(date_add(lit(from).cast("date"), (hv(salt) % span).cast("int")).cast("string"))
    val nCust = rows(1500); val nPart = rows(2000); val nSupp = math.max(10L, rows(100))
    val nOrd = rows(15000); val nLine = rows(60000); val nEv = rows(10000)
    val nUsers = math.max(15L, rows(150))

    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val spanUs = 30L * 86400L * 1000000L - 60L * 1000000L
    val nVec = rows(500)
    import spark.implicits._
    concurrently(Seq(
      () => save(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
            .map(lit): _*), col("id").cast("int") + 1).as("r_name")), dir, "region"),
      () => save(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
          concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
          (col("id") % 5).cast("int").as("n_regionkey")), dir, "nation"),
      () => save(spark.range(nCust).select(col("id").as("c_custkey"),
          format_string("Customer#%09d", col("id")).as("c_name"),
          (hv(1) % 25).cast("int").as("c_nationkey"),
          round(u(2) * 10999.0 - 999.99, 2).as("c_acctbal"),
          pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
            .as("c_mktsegment")), dir, "customer"),
      () => save(spark.range(nSupp).select(col("id").as("s_suppkey"),
          format_string("Supplier#%09d", col("id")).as("s_name"),
          (hv(4) % 25).cast("int").as("s_nationkey"),
          round(u(5) * 10999.0 - 999.99, 2).as("s_acctbal")), dir, "supplier"),
      () => save(spark.range(nPart).select(col("id").as("p_partkey"),
          concat_ws(" ", pick(6, "blue", "cold", "hot", "large", "new", "old", "red", "small"),
            pick(7, "anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")).as("p_name"),
          concat(lit("Brand#"), (hv(8) % 25 + 1).cast("string")).as("p_brand"),
          pick(9, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD").as("p_type"),
          (hv(10) % 50 + 1).cast("int").as("p_size"),
          round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice")), dir, "part"),
      () => save(spark.range(nOrd).select(col("id").as("o_orderkey"),
          (hv(11) % nCust).as("o_custkey"),
          pick(12, "F", "O", "P").as("o_orderstatus"),
          round(u(13) * 499000.0 + 1000.0, 2).as("o_totalprice"),
          day("1995-01-01", 14, 2404).as("o_orderdate"),
          pick(15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
            .as("o_orderpriority")), dir, "orders"),
      () => save(spark.range(nLine).select((hv(16) % nOrd).as("l_orderkey"),
          (hv(17) % nPart).as("l_partkey"), (hv(18) % nSupp).as("l_suppkey"),
          (hv(19) % 7 + 1).cast("int").as("l_linenumber"),
          (hv(20) % 50 + 1).cast("double").as("l_quantity"),
          round(u(21) * 104000.0 + 900.0, 2).as("l_extendedprice"),
          ((hv(22) % 11).cast("double") / 100.0).as("l_discount"),
          ((hv(23) % 9).cast("double") / 100.0).as("l_tax"),
          pick(24, "A", "N", "R").as("l_returnflag"), pick(25, "F", "O").as("l_linestatus"),
          day("1995-01-02", 26, 2498).as("l_shipdate")), dir, "lineitem"),
      () => save(spark.range(nEv).select(col("id").as("event_id"),
          to_timestamp_ntz(timestamp_micros(lit(t0) + hv(27) % spanUs).cast("string")).as("ts"),
          (hv(28) % nUsers).as("user_id"),
          pick(29, "error", "view", "signup", "click", "purchase").as("event_type"),
          round(least(-lit(50.0) * log(lit(1.0) - u(30)), lit(560.0)), 2).as("value"),
          concat(lit("{\"k\": "), (hv(31) % 100).cast("string"), lit("}")).as("props")),
          dir, "events"),
      () => save(documents(spark, seed, rows(500), 1), dir, "documents"),
      () => save(spark.range(nVec).map { id =>
          val x = id + seed * 1000003L
          val label = (GenScale.h(x, 21) >>> 33).toInt % 10
          val raw = Array.tabulate(64) { d =>
            val g = GenScale.u01(x * 64 + d, 22) + GenScale.u01(x * 64 + d, 23) - 1.0
            (g + 0.15 * (GenScale.u01(label * 64L + d, 24) - 0.5)).toFloat
          }
          val norm = math.sqrt(raw.map(v => v.toDouble * v).sum).toFloat
          (id, raw.map(_ / norm), label)
        }.toDF("vec_id", "embedding", "label"), dir, "embeddings")))
  }

  // ---- small_jobs: a seeded DAG of tiny templated sql jobs ----

  final case class SmallNet(jobs: Seq[String], expected: Map[String, Seq[Long]])

  val Modulus = 1000003L
  val Keys = 8

  /** Write `<dir>/<net>.jobnet` (+ `<net>_sub.jobnet`) and one `.sql.job`
    * per node. Each job builds table `<net>_<i>` with rows (k, v), k in 0..7,
    * from up to two parent tables through `$var`, `${var}` and `<%= %>`
    * templating; `expected` holds every table's v column computed here,
    * independently of the program.
    */
  def smallJobs(dir: Path, net: String, seed: Long, nMain: Int, nSub: Int): SmallNet = {
    val rng = new Rng(seed)
    val expected = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    def job(name: String, parents: Seq[String]): Unit = {
      val mul = 2 + rng.below(7)
      val add = rng.below(1000)
      val dd = 1 + rng.below(28)
      val roots = Seq.tabulate(Keys)(k => k.toLong * (1 + rng.below(50)))
      val (from, expr, vals) = parents match {
        case Seq() =>
          val vs = roots.map(r => Math.floorMod(r * mul + add + dd, Modulus))
          (s"(SELECT id AS k, CASE ${roots.zipWithIndex.map { case (r, k) =>
              s"WHEN id = $k THEN $r" }.mkString(" ")} END AS v FROM range($Keys)) a",
            "a.v * $mul", vs)
        case Seq(p) =>
          val vs = expected(p).map(v => Math.floorMod(v * mul + add + dd, Modulus))
          ("$schema." + p + " a", "a.v * $mul", vs)
        case Seq(p, q) =>
          val vs = expected(p).zip(expected(q)).map { case (a, b) =>
            Math.floorMod(a * mul + b + add + dd, Modulus) }
          ("$schema." + p + " a JOIN ${schema}." + q + " b ON a.k = b.k",
            "a.v * ${mul} + b.v", vs)
      }
      expected(name) = vals
      write(dir.resolve(s"$name.sql.job"),
        s"""/*
           |class: sql
           |dest-table: $$schema.$name
           |mul: $mul
           |add: $add
           |*/
           |DROP TABLE IF EXISTS $$schema.$name;
           |CREATE TABLE $${schema}.$name USING PARQUET AS
           |SELECT a.k, pmod($expr + $$add + <%= date('2024-01-${"%02d".format(dd)}').strftime('%d') %>, $Modulus) AS v
           |FROM $from;
           |""".stripMargin)
    }
    // main net: t1..tN, each with 0-2 earlier parents; the subnet s1..sM is
    // a chain hung between two main jobs
    val names = (1 to nMain).map(i => s"${net}_$i")
    val subNames = (1 to nSub).map(i => s"${net}_s$i")
    val subRef = s"*${net}_sub"
    val subAt = nMain / 2
    val edges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    names.zipWithIndex.foreach { case (n, i) =>
      val parents =
        if (i == subAt) Seq(subNames.last)
        else if (i == 0) Nil
        // parent count cycles 0, 1, 2 so every seed has the same job mix
        else Seq.fill(i % 3)(names(rng.below(i))).distinct
      if (i == subAt) {
        val head = names(rng.below(i))
        subNames.zipWithIndex.foreach { case (s, j) =>
          job(s, if (j == 0) Seq(head) else Seq(subNames(j - 1)))
        }
        edges += (head -> subRef)
        edges += (subRef -> n)
      } else parents.foreach(p => edges += (p -> n))
      job(n, parents)
    }
    val solo = names.filterNot(n => edges.exists(e => e._1 == n || e._2 == n))
    write(dir.resolve(s"$net.jobnet"),
      (edges.map { case (a, b) => s"$a -> $b" } ++ solo).mkString("", "\n", "\n"))
    write(dir.resolve(s"${net}_sub.jobnet"), subNames.mkString(" -> ") + "\n")
    SmallNet(names ++ subNames, expected.toMap)
  }

  // ---- queue_ingest: small JSON objects, a share pre-logged ----

  final case class Queue(objects: Seq[String], rows: Map[String, Int], logged: Set[String])

  /** job_process_id of the load-log rows a crashed earlier run left. */
  val CrashedRun = "crashed-run"

  /** Write `n` JSON-lines objects of 1-5 rows each under `queueDir`;
    * `logged` of them, chosen by the seed, are crash leftovers. Row counts
    * cycle through 1-5 so every seed has the same volume.
    */
  def queueObjects(queueDir: Path, seed: Long, n: Int, logged: Int): Queue = {
    val rng = new Rng(seed ^ 0x5151L)
    Files.createDirectories(queueDir)
    val names = (0 until n).map(i => f"obj_$i%05d.json")
    val rows = names.zipWithIndex.map { case (name, i) =>
      val nRows = 1 + i % 5
      val body = (0 until nRows).map { r =>
        val v = rng.below(100000)
        s"""{"obj": $i, "seq": $r, "val": $v, "tag": "t${v % 7}"}"""
      }.mkString("", "\n", "\n")
      Files.writeString(queueDir.resolve(name), body)
      name -> nRows
    }.toMap
    val order = names.sortBy(_ => rng.next())
    Queue(names, rows, order.take(logged).toSet)
  }
}
