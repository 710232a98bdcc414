package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Chain
import graft.ops._

/** One workload: a set-up step (timed, repeated), an endless seeded stream
  * of blocks of op items, the untimed priming of a block, the op itself, and
  * the post-run check that writes what `run.py` compares against its
  * reference.
  */
trait Workload {
  /** A run measures whole blocks, at least `minBlocks` of them however slow
    * the host; the retained heap is sampled after each block.
    */
  def blocks: Iterator[Seq[String]]
  def minBlocks: Int = 1
  def setup(): Unit
  /** Untimed work before a block's ops, whose ids start at `firstId`. */
  def prime(block: Seq[String], firstId: Int): Unit = ()
  def runOp(id: Int, item: String): OpResult
  def check(): Unit
}

object Workloads {
  def apply(name: String, h: Harness, seed: Long, data: String, out: Path,
            opts: Map[String, String]): Workload = name match {
    case "catalog" => new Catalog(h, seed, data, out,
      Catalog.readCosts(opts.getOrElse("costs", "")),
      Catalog.readVerified(opts.getOrElse("verified", "")))
    case "bulk_etl" => new Bulk(h, seed, data, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The first `k` items of a workload's seeded stream. */
  def draw(name: String, seed: Long, k: Int, opts: Map[String, String]): Seq[String] = name match {
    case "catalog" => Catalog.stream(Catalog.readCosts(opts.getOrElse("costs", "")), seed).take(k).toSeq
    case "bulk_etl" => Bulk.stream(seed).take(k).toSeq
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def writeLines(p: Path, lines: Iterable[String]): Unit =
    Files.writeString(p, lines.map(_ + "\n").mkString)
}

object Draw {
  /** Endless stream: the pool in a fresh seeded order on every pass. */
  def cycle[T](pool: IndexedSeq[T], seed: Long): Iterator[T] = {
    val rng = new java.util.SplittableRandom(seed)
    Iterator.continually(shuffle(pool, rng)).flatten
  }

  def shuffle[T](xs: IndexedSeq[T], rng: java.util.SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** `catalog`: the contract queries (`SparkEntry.queries`), each op build → plan → a
  * digest action that reads every output column. Every query of a block is
  * primed by `Catalog.PrimeRuns` untimed runs before the block's first op
  * is timed, so the timed ops run in a JVM that has run the whole block
  * already; then the block is timed `Catalog.Passes` times over. `verified`
  * maps a query to an output digest already checked against DuckDB for this
  * build and these inputs; only other queries have their output written for
  * a check.
  */
final class Catalog(h: Harness, seed: Long, data: String, out: Path,
                    costs: Map[String, Double], verified: Map[String, String]) extends Workload {
  private val spark = h.spark

  def setup(): Unit =
    Seq("lineitem", "orders", "documents").foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)

  def blocks: Iterator[Seq[String]] =
    Catalog.stream(costs, seed).grouped(Catalog.Strata).map(b => Seq.fill(Catalog.Passes)(b).flatten)

  private val checks = mutable.ArrayBuffer.empty[String]
  private val checked = mutable.HashSet.empty[String]
  private val primed = mutable.HashSet.empty[String]

  /** Untimed runs of each query not run before. When its digest is not
    * verified, its first run also writes its frame as parquet for the
    * DuckDB compare in run.py, with the digest of what was written.
    */
  override def prime(block: Seq[String], firstId: Int): Unit = {
    val fresh = block.zipWithIndex.filter { case (q, _) => primed.add(q) }
    for (_ <- 1 to Catalog.PrimeRuns; (q, i) <- fresh) h.prime(firstId + i)(primeRun(q))
  }

  /** One op: build → plan → digest, timed. */
  def runOp(id: Int, q: String): OpResult =
    h.op(id, q) { root =>
      val df = h.build(id, root)(SparkEntry.queries(q)(spark, data))
      val dg = h.plan(id, root)(Harness.digestFrame(df))
      h.exec(id, root)(Harness.digestString(dg))
    }

  private def primeRun(q: String): Unit =
    try {
      val df = SparkEntry.queries(q)(spark, data)
      val d = Harness.digestString(Harness.digestFrame(df))
      if (!verified.get(q).contains(d) && checked.add(q)) {
        val dir = out.resolve("check").resolve(q).toString
        df.write.mode("overwrite").parquet(dir)
        val written = Harness.digestString(Harness.digestFrame(spark.read.parquet(dir)))
        checks += Json.obj("item" -> q, "digest" -> written, "error" -> "")
      }
    } catch {
      case e: Throwable =>
        if (checked.add(q)) checks += Json.obj("item" -> q, "digest" -> "", "error" -> e.toString.take(400))
    }

  def check(): Unit = {
    Workloads.writeLines(out.resolve("checks.jsonl"), checks)
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      checked.toSeq.sorted.filter(oracle.contains).map(q => Json.str(q) + ":" + Json.str(oracle(q)))
        .mkString("{", ",", "}"))
  }
}

object Catalog {
  /** Cost classes, one query of each per block. The per-block mean latency
    * is set mostly by the draw from the costliest class, so classes are
    * kept narrow.
    */
  val Strata = 12
  /** Untimed runs of each query of a block, then timed passes over it: a
    * query's second run is still noticeably slower than its third, and the
    * third than its fourth.
    */
  val PrimeRuns = 2
  val Passes = 3

  /** Every contract query, split into `Strata` cost classes by the committed
    * per-query costs (queries without a cost go to the middle class).
    */
  def strata(costs: Map[String, Double]): IndexedSeq[IndexedSeq[String]] = {
    val names = SparkEntry.queries.keys.toIndexedSeq.sorted
    val mid = if (costs.isEmpty) 0.0 else costs.values.toSeq.sorted.apply(costs.size / 2)
    val ranked = names.sortBy(n => (costs.getOrElse(n, mid), n))
    ranked.zipWithIndex.groupBy { case (_, i) => i * Strata / ranked.size }
      .toIndexedSeq.sortBy(_._1).map(_._2.map(_._1).toIndexedSeq)
  }

  /** Seeded stream in blocks of one query per cost class, shuffled within
    * the block; each class is walked in a fresh seeded order. Any run of
    * whole blocks is a stratified sample of the contract.
    */
  def stream(costs: Map[String, Double], seed: Long): Iterator[String] = {
    val rng = new java.util.SplittableRandom(seed)
    val classes = strata(costs)
    val walks = classes.map(c => Draw.cycle(c, rng.nextLong()))
    Iterator.continually(Draw.shuffle(walks.map(_.next()), rng)).flatten
  }

  def readCosts(path: String): Map[String, Double] =
    if (path.isEmpty) Map.empty
    else scala.io.Source.fromFile(path).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> a(1).toDouble).toMap

  def readVerified(path: String): Map[String, String] =
    if (path.isEmpty || !Files.exists(java.nio.file.Paths.get(path))) Map.empty
    else scala.io.Source.fromFile(path).getLines().map(_.split("\t"))
      .collect { case Array(q, d) => q -> d }.toMap
}

/** `bulk_etl`: chains over the seeded multi-file tables, each op one chain
  * ending in `Chain.save`; a chain built from RasgoQL steps (the tutorial)
  * is first rendered with `Chain.sql` and exported with `Chain.toDbt`, as
  * its user would. Each kind is primed by `Bulk.PrimeRuns` untimed runs
  * before the first block is timed. Every op's saved table is digested
  * after the op (untimed); the last copy of each table stays on disk for
  * run.py's DuckDB compare, and every rendered SQL text must give, in
  * `spark.sql` over views of the same tables, the rows of the table its op
  * saved. Each op's root
  * span names its pipeline (`kernel.<pipeline>_cpu_s`).
  */
final class Bulk(h: Harness, seed: Long, data: String, out: Path) extends Workload {
  private val spark = h.spark
  private val saved = mutable.ArrayBuffer.empty[String]
  /** (op id, rendered SQL, digest of the table the op saved) */
  private val rendered = mutable.ArrayBuffer.empty[(Int, String, String)]
  private val primed = mutable.HashSet.empty[String]
  /** Three blocks, so each kind's latency is sampled three times. */
  override def minBlocks: Int = 3

  def setup(): Unit = Bulk.Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)

  def blocks: Iterator[Seq[String]] = Bulk.stream(seed).grouped(Bulk.Ops.size)

  private val dbtDir = out.resolve("dbt").toString

  override def prime(block: Seq[String], firstId: Int): Unit = {
    val fresh = block.zipWithIndex.filter { case (op, _) => primed.add(op) }
    for (_ <- 1 to Bulk.PrimeRuns; (op, i) <- fresh) h.prime(firstId + i) {
      val c = Bulk.Ops(op)(spark, data)
      if (c.steps.nonEmpty) {
        c.sql()
        c.toDbt(dbtDir, Bulk.table(op))
      }
      c.save(Bulk.table(op), overwrite = true)
    }
  }

  def runOp(id: Int, op: String): OpResult = {
    val name = Bulk.table(op)
    val path = out.resolve("warehouse").resolve(name)
    var sql = ""
    val res = h.op(id, op, "pipeline" -> Bulk.PipelineOf(op)) { root =>
      val c = h.build(id, root)(Bulk.Ops(op)(spark, data))
      if (c.steps.nonEmpty) {
        sql = h.phase(id, root, "render_sql") { sp =>
          val text = c.sql()
          sp.attrs("sql_kb") = text.length / 1024.0
          sp.attrs("ctes") = c.steps.length - 1
          text
        }
        h.phase(id, root, "render_dbt")(_ => c.toDbt(dbtDir, name))
      }
      h.phase(id, root, "write") { s =>
        c.save(name, overwrite = true)
        val (bytes, files) = Harness.dirSize(path)
        s.attrs("mb") = bytes / 1048576.0
        s.attrs("files") = files
        h.sampleStorage(s)
      }
      name
    }
    if (res.ok) h.untimed {
      val d =
        try Harness.digestString(Harness.digestFrame(spark.read.parquet(path.toString)))
        catch { case e: Exception => "unreadable: " + e.toString.take(200) }
      saved += Json.obj("op" -> id, "table" -> name, "digest" -> d)
      if (sql.nonEmpty) rendered += ((id, sql, d))
    }
    res
  }

  def check(): Unit = {
    Workloads.writeLines(out.resolve("checks.jsonl"), saved)
    Bulk.Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t))
    // ops that rendered the same text and saved the same rows share a check
    val errors = rendered.map { case (_, sql, want) => (sql, want) }.distinct.map { case (sql, want) =>
      val err =
        try {
          val got = Harness.digestString(Harness.digestFrame(spark.sql(sql)))
          if (got == want) "" else s"rendered SQL gives $got, the saved table $want"
        } catch { case e: Throwable => "rendered SQL: " + e.toString.take(300) }
      (sql, want) -> err
    }.toMap
    Workloads.writeLines(out.resolve("render_checks.jsonl"), rendered.map { case (id, sql, want) =>
      Json.obj("op" -> id, "error" -> errors((sql, want)))
    })
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      Bulk.Ops.keys.toSeq.sorted.map("q_" + _).filter(oracle.contains)
        .map(q => Json.str(Bulk.table(q.stripPrefix("q_"))) + ":" + Json.str(oracle(q)))
        .mkString("{", ",", "}"))
  }
}

object Bulk {
  type Build = (SparkSession, String) => Chain

  val Tables = Seq("lineitem", "orders", "documents", "embeddings")

  def table(op: String): String = "bulk_" + op

  /** Untimed runs of each kind before the first timed block: after one, the
    * next run of a kind is still up to twice as slow as the one after it,
    * and after two, 10-30% slower.
    */
  val PrimeRuns = 3

  /** The pipeline each op belongs to (its `kernel.<pipeline>_cpu_s`). */
  val PipelineOf: Map[String, String] = Map(
    "tutorial" -> "tutorial",
    "standard_scaler" -> "stats", "corr_matrix" -> "stats",
    "tfidf" -> "text", "sim_topk" -> "vectors")

  /** The flagship tutorial chain of `SparkEntry.entry`, over the bulk
    * tables.
    */
  private val tutorial: Build = (s, d) => {
    def t(name: String) = Chain(s, name, s.read.parquet(s"$d/$name.parquet"))
    t("lineitem").join(t("orders"), "inner", Seq("l_orderkey" -> "o_orderkey"))
      .datetrunc(Seq("o_orderdate" -> "week"))
      .rename(Seq("o_orderdate_week" -> "order_week"))
      .aggregate(Seq("l_partkey", "order_week"), Seq("l_extendedprice" -> Seq("SUM", "AVG")))
      .lagCols(Seq("l_extendedprice_sum"), Seq(1, 2), Seq("l_partkey"), Seq("order_week" -> "ASC"))
      .movingAvg(Seq("l_extendedprice_sum"), Seq(4), Seq("order_week" -> "ASC"), Seq("l_partkey"))
      .targetEncode("l_partkey", "l_extendedprice_sum")
      .impute(Seq("lag_l_extendedprice_sum_1" -> "mean"))
      .trainTestSplit(Seq("l_partkey" -> "ASC", "order_week" -> "ASC"), 0.8)
  }

  /** Every op but the tutorial is the `SparkEntry.queries` entry of the same
    * name, as a chain without steps; its DuckDB oracle is the reference.
    */
  val Ops: Map[String, Build] = PipelineOf.keys.map { op =>
    op -> (if (op == "tutorial") tutorial
           else (s: SparkSession, d: String) => Chain(s, table(op), SparkEntry.queries("q_" + op)(s, d)))
  }.toMap

  /** Blocks of every op once, in a fresh seeded order per block. */
  def stream(seed: Long): Iterator[String] = Draw.cycle(Ops.keys.toIndexedSeq.sorted, seed)
}
