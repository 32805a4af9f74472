package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{IncrementalJoinAggView, ManagedParquetTable}
import graft.io.IncrementalAggView.AggSpec
import graft.similarity.{IncrementalIvfPqIndex, VectorFunctions}
import graft.streaming.BronzeIngest
import graft.text.{IncrementalInvertedIndex, InvertedIndex, TextFunctions}

/** Benchmark program: drives graft's public API for one workload over
  * inputs the generator wrote, and writes the raw measurements (op
  * latencies, traced calls, answers for the correctness checks) as one
  * JSON file. Metrics are derived from that file by `run.py`.
  *
  * Usage: perfbench.Main --workload W --data DIR --work DIR --seconds S
  *   --trace 0|1 --cores C --out FILE */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a("cores").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.retainedJobs", "64")
      .config("spark.ui.retainedStages", "128")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "16")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val out = new Out
    out("session_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark.sparkContext)
    val ctx = Ctx(spark, tracer, a("data"), work, a("seconds").toDouble,
      a("trace") == "1", out)
    a("workload") match {
      case "ingest_maintain" => Ingest.run(ctx)
      case "batch_gates" => Gates.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    // stopping the session delivers every posted event to the listener
    spark.stop()
    if (ctx.trace) {
      out("calls") = tracer.calls.map { c =>
        Map("span" -> c.span, "start" -> c.startMs, "end" -> c.endMs,
          "jobs" -> c.jobs.values().asScala.toSeq.map(_.toSeq),
          "tasks" -> c.tasks, "cpu_ns" -> c.cpuNs,
          "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes)
      }.toSeq
      out("unattributed") = tracer.unattributed
    }
    out.write(a("out"))
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, data: String,
    work: String, seconds: Double, trace: Boolean, out: Out) {
  lazy val plan: JsonNode =
    new ObjectMapper().readTree(Paths.get(data, "plan.json").toFile)
  def input(name: String): DataFrame =
    spark.read.parquet(s"$data/$name.parquet")
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Raw result document, written as JSON. */
final class Out {
  private val m = scala.collection.mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = m(k) = v
  def write(path: String): Unit = {
    def conv(v: Any): AnyRef = v match {
      case x: scala.collection.Map[_, _] =>
        val j = new java.util.LinkedHashMap[String, AnyRef]()
        x.foreach { case (k, vv) => j.put(k.toString, conv(vv)) }
        j
      case x: Iterable[_] => x.map(conv).toSeq.asJava
      case x: Array[_] => x.toSeq.map(conv).asJava
      case null => null
      case x => x.asInstanceOf[AnyRef]
    }
    Files.write(Paths.get(path), new ObjectMapper()
      .writeValueAsString(conv(m)).getBytes(StandardCharsets.UTF_8))
  }
}

/** Shared helpers: timing, answer rendering, the op loop. */
object Util {
  def now(): Long = System.nanoTime()
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** (steal, total) jiffies of all CPUs from /proc/stat: the share of an
    * interval the hypervisor ran other guests instead of this one. */
  def cpuTicks(): (Long, Long) = try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")),
      StandardCharsets.US_ASCII).linesIterator.next().trim.split("\\s+")
      .drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** One row as a stable string; arrays render element-wise. */
  def render(r: Row): String = r.toSeq.map {
    case null => "null"
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }.mkString("|")

  def rows(df: DataFrame, sorted: Boolean = true): Seq[String] = {
    val r = df.collect().toSeq.map(render)
    if (sorted) r.sorted else r
  }

  def local(spark: SparkSession, rows: Seq[Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Runs `op(i)` for i = 0, 1, … : the first `warmUp` ops untimed and
    * unrecorded, then whole blocks of `block` ops, at least one and more
    * until `seconds` of timed work have elapsed or the plan runs out.
    * Records each timed op's kind, latency and outcome. Work an op hands
    * to its `untimed` runner (answer checks) counts neither in the op's
    * latency nor in the timed phase. Ends with the used heap after a
    * forced GC. */
  def loop(ctx: Ctx, nOps: Int, block: Int, warmUp: Int,
      kind: Int => String)(op: (Int, (=> Unit) => Unit) => Unit): Unit = {
    for (i <- 0 until warmUp) op(i, body => body)
    val ops = ArrayBuffer[Map[String, Any]]()
    var excluded = 0L
    val t0 = now()
    def timed = now() - t0 - excluded
    var i = warmUp
    while (i < nOps && (i < warmUp + block || timed < ctx.seconds * 1e9 ||
        (i - warmUp) % block != 0)) {
      ctx.tracer.active = ctx.trace
      var opExcluded = 0L
      val untimed: (=> Unit) => Unit = body => {
        val u = now()
        try ctx.tracer.excluded(body) finally opExcluded += now() - u
      }
      val s = now()
      val c0 = cpuTicks()
      val err = try { ctx.tracer.window(op(i, untimed)); "" }
        catch { case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      ops += Map("kind" -> kind(i), "ms" -> (now() - s - opExcluded) / 1e6,
        "steal" -> stealFrac(c0, cpuTicks()), "error" -> err)
      excluded += opExcluded
      i += 1
    }
    ctx.tracer.active = false
    ctx.out("ops") = ops.toSeq
    ctx.out("timed_s") = timed / 1e9
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    ctx.out("heap_retained_mb") =
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** Set-up repetitions of an untraced run; the first one is cold. */
  val SetupReps = 3
  /** The set-up repetitions of a traced run: three that warm the JVM
    * up, then untraced and traced ones in the order U T T U U T T U, so
    * a linear warm-up trend cancels out of the traced ÷ untraced time. */
  val TracedReps = Seq.fill(3)("warm_up") ++
    Seq.fill(2)(Seq("untraced", "traced", "traced", "untraced")).flatten

  /** Repeats the workload's set-up, each time in a fresh root, and
    * records each repetition's time and role; returns the last root's
    * result for the timed phase, which a traced run traces throughout. */
  def setup[T](ctx: Ctx)(build: String => T): T = {
    val sc = ctx.spark.sparkContext
    val roles = if (ctx.trace) TracedReps else Seq.fill(SetupReps)("untraced")
    val times = ArrayBuffer[Double]()
    var last: Option[T] = None
    for ((role, r) <- roles.zipWithIndex) {
      val root = s"${ctx.work}/setup$r"
      val tr = role == "traced"
      if (tr) sc.addSparkListener(ctx.tracer)
      ctx.tracer.active = tr
      val t0 = now()
      last = Some(ctx.span("setup")(build(root)))
      times += ms(t0) / 1000.0
      ctx.tracer.active = false
      if (tr) sc.removeSparkListener(ctx.tracer)
      if (r < roles.size - 1) deleteTree(Paths.get(root))
    }
    if (ctx.trace) sc.addSparkListener(ctx.tracer)
    ctx.out("setup_s") = times.toSeq
    ctx.out("setup_roles") = roles
    last.get
  }

  def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def treeBytes(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def check(checks: ArrayBuffer[Map[String, Any]], name: String,
      expected: Seq[String], actual: Seq[String]): Unit =
    checks += Map("name" -> name, "expected" -> expected, "actual" -> actual)
}

/** The managed tables, indexes and gold view the table workload serves:
  * orders (CDC-maintained) ⟕ customer ⟕ nation → per-nation count/sum,
  * documents with a maintained inverted index, embeddings with a
  * maintained IVF-PQ index under frozen artifacts. */
final class Fixture(spark: SparkSession, val root: String) {
  val orders = new ManagedParquetTable(spark, s"$root/orders")
  val cust = new ManagedParquetTable(spark, s"$root/cust")
  val nat = new ManagedParquetTable(spark, s"$root/nat")
  val docs = new ManagedParquetTable(spark, s"$root/docs")
  val emb = new ManagedParquetTable(spark, s"$root/emb")
  val textPath = s"$root/docs_idx"
  val view = new IncrementalJoinAggView(spark, s"$root/orders",
    s"$root/gold", Seq("o_custkey"),
    Seq(IncrementalJoinAggView.Dim(s"$root/cust", Seq("o_custkey"),
      Seq("c_nationkey")),
      IncrementalJoinAggView.Dim(s"$root/nat", Seq("c_nationkey"),
        Seq("n_name"))),
    Seq("n_name"),
    Seq(AggSpec("count", "", "cnt"), AggSpec("sum", "price_cents", "sum_cents")))
  val text = new IncrementalInvertedIndex(spark, s"$root/docs", textPath,
    nBuckets = Fixture.TextBuckets)
  val ivf = new IncrementalIvfPqIndex(spark, s"$root/emb", s"$root/emb_idx",
    m = Fixture.M, ksub = Fixture.Ksub, dim = Fixture.Dim)

  /** Builds everything from the generator's base tables. Orders land in
    * `OrderChunks` key-ordered appends so file statistics can prune. */
  def build(ctx: Ctx): Fixture = {
    import Fixture.OrderChunks
    cust.overwrite(ctx.input("cust"))
    nat.overwrite(ctx.input("nat"))
    val o = ctx.input("orders")
    val n = ctx.plan.get("base_orders").asLong
    for (c <- 0 until OrderChunks) {
      val lo = n * c / OrderChunks
      val hi = n * (c + 1) / OrderChunks
      orders.append(o.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi))
    }
    view.refresh()
    docs.append(ctx.input("docs"))
    text.refresh()
    val e = ctx.input("emb")
    ivf.train(e.filter(col("vec_id") < Fixture.Ksub),
      VectorFunctions.pqTrain(e, m = Fixture.M, ksub = Fixture.Ksub,
        iters = 0, dim = Fixture.Dim))
    emb.append(e)
    ivf.refresh()
    this
  }

  /** The gold view recomputed from scratch: live orders joined with the
    * dims and aggregated, the plain-SQL definition of the view. */
  def goldOracle: DataFrame = orders.read()
    .join(cust.read(), Seq("o_custkey"), "left")
    .join(nat.read(), Seq("c_nationkey"), "left")
    .groupBy(col("n_name"))
    .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("sum_cents"))

  def gold: DataFrame = view.read().select(col("n_name"), col("cnt"),
    col("sum_cents"))
}

object Fixture {
  val OrderChunks = 2
  /** Postings buckets: the library default (64) sizes for large corpora;
    * a few thousand documents fill 16. */
  val TextBuckets = 16
  val M = 4
  val Ksub = 16
  val Dim = 64
  val K = 10
  val NProbe = 2
}

/** The table workload: a seeded interleaving of write batches (CDC
  * upserts refreshing the gold view, document and embedding appends with
  * DV deletes refreshing their indexes, each compacting its table first) and
  * read-your-writes probes (BM25, phrase, IVF-PQ top-k, view read,
  * pruned point and range reads) over the state the writes maintain. */
object Ingest {
  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import Util._
    val fx = setup(ctx)(root => new Fixture(spark, root).build(ctx))
    // batches are materialized on the driver up front, so each op
    // receives its rows as a local relation and pays no input scan
    def pools(name: String) = {
      val df = ctx.input(name)
      val st = org.apache.spark.sql.types.StructType(
        df.schema.fields.filter(_.name != "batch"))
      val byBatch = df.collect().groupBy(_.getAs[Int]("batch")).map {
        case (b, rs) => b -> rs.toSeq.map(r =>
          Row.fromSeq(st.fieldNames.toSeq.map(f => r.getAs[Any](f))))
      }
      (st, byBatch)
    }
    val (cdcSchema, cdc) = pools("orders_cdc")
    val (docSchema, docAdds) = pools("docs_add")
    val (embSchema, embAdds) = pools("emb_add")
    val embQSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    def queries(p: JsonNode): DataFrame = local(spark,
      p.get("vectors").asScala.toSeq.zipWithIndex.map { case (v, j) =>
        Row(j.toLong, v.asScala.map(_.floatValue).toSeq)
      }, embQSchema)
    def pred(p: JsonNode) = p.get("kind").asText match {
      case "point" => col("o_orderkey") === p.get("key").asLong
      case _ => col("o_orderkey") >= p.get("lo").asLong &&
        col("o_orderkey") < p.get("hi").asLong
    }
    def phrase(q: String): DataFrame = InvertedIndex.phraseSearch(
      InvertedIndex.openIndex(spark, fx.textPath, InvertedIndex.queryTokens(q)),
      q)
    /** The probe's answer recomputed the brute-force way, from the live
      * source rows at the moment of the probe. */
    def bruteForce(p: JsonNode): Seq[String] = p.get("kind").asText match {
      case "bm25" => rows(InvertedIndex.bm25TopK(fx.docs.read(), "text",
        "doc_id", p.get("query").asText, Fixture.K), sorted = false)
      case "phrase" =>
        val q = InvertedIndex.queryTokens(p.get("query").asText)
        fx.docs.read()
          .select(col("doc_id"), TextFunctions.tokens(col("text")))
          .collect().toSeq.flatMap { r =>
            val t = r.getSeq[String](1)
            val hits = t.indices.filter(a => t.slice(a, a + q.size) == q)
            if (hits.isEmpty) None
            else Some(s"${r.getLong(0)}|${hits.size}|${hits.min}")
          }.sorted
      case "topk" => rows(VectorFunctions.ivfPqTopK(fx.emb.read(), queries(p),
        fx.ivf.centroids, fx.ivf.codebooks, Fixture.M, Fixture.Ksub,
        Fixture.Dim, Fixture.K, Fixture.NProbe))
      case "view" => rows(fx.goldOracle)
      case _ => rows(fx.orders.read().filter(pred(p)))
    }
    val ops = ctx.plan.get("ops").asScala.toSeq
    val refreshes = ArrayBuffer[String]()
    val checks = ArrayBuffer[Map[String, Any]]()
    val checked = scala.collection.mutable.Set[String]()
    val prunes = ArrayBuffer[(String, Double)]()
    // whole rounds only, after one untimed round: the first CDC upsert
    // and incremental refreshes of a JVM run cold code paths, which
    // swung the first round's orders batch between 3.8 and 7.0 s
    val round = ctx.plan.get("ops_per_block").asInt
    loop(ctx, ops.size, round, round,
        i => ops(i).get("kind").asText) { (i, untimed) =>
      val op = ops(i)
      val b = op.path("batch").asInt
      val dels = op.path("deletes").asScala.map(_.asLong: Any).toSeq
      val kind = op.get("kind").asText
      val answer: Seq[String] = kind match {
        case "orders" =>
          ctx.span("streaming.upsert_cdc") {
            BronzeIngest.upsertCdcBatchDV(fx.orders,
              local(spark, cdc(b), cdcSchema), Seq("o_orderkey"), "seq", "op")
          }
          // key-clustered, so the probes' file statistics still prune
          ctx.span("io.table.compact") {
            fx.orders.compact(Fixture.OrderChunks, Seq("o_orderkey"))
          }
          ctx.span("io.view.refresh")(fx.view.refresh())
          refreshes += fx.view.lastRefresh
          Nil
        case "docs" =>
          ctx.span("io.table.append") {
            fx.docs.append(local(spark, docAdds(b), docSchema))
          }
          if (dels.nonEmpty) ctx.span("io.table.delete_dv") {
            fx.docs.deleteWhereDV(col("doc_id").isin(dels: _*))
          }
          ctx.span("io.table.compact")(fx.docs.compact())
          ctx.span("text.index.refresh")(fx.text.refresh())
          refreshes += fx.text.lastRefresh
          Nil
        case "emb" =>
          ctx.span("io.table.append") {
            fx.emb.append(local(spark, embAdds(b), embSchema))
          }
          if (dels.nonEmpty) ctx.span("io.table.delete_dv") {
            fx.emb.deleteWhereDV(col("vec_id").isin(dels: _*))
          }
          ctx.span("io.table.compact")(fx.emb.compact())
          ctx.span("similarity.index.refresh")(fx.ivf.refresh())
          refreshes += fx.ivf.lastRefresh
          Nil
        case "bm25" => ctx.span("text.index.bm25") {
            InvertedIndex.bm25TopKIndexed(spark, fx.textPath,
              op.get("query").asText, Fixture.K).collect()
          }.toSeq.map(render)
        case "phrase" => ctx.span("text.index.phrase") {
            phrase(op.get("query").asText).collect()
          }.toSeq.map(render).sorted
        case "topk" => ctx.span("similarity.index.topk") {
            fx.ivf.topK(queries(op), Fixture.K, Fixture.NProbe).collect()
          }.toSeq.map(render).sorted
        case "view" =>
          ctx.span("io.view.read")(fx.gold.collect()).toSeq.map(render).sorted
        case _ => ctx.span("io.table.read_where") {
            fx.orders.readWhere(pred(op)).collect()
          }.toSeq.map(render).sorted
      }
      // the first timed probe of each kind is checked against its
      // brute-force answer right away (the next write would change the
      // truth), and in a traced run its file-skipping decision is
      // recorded; both run jobs of their own, so they sit outside the
      // op's timing
      if (i >= round && !Set("orders", "docs", "emb")(kind) && !checked(kind)) untimed {
        checked += kind
        check(checks, s"$kind#$i", bruteForce(op), answer)
        if (ctx.trace) kind match {
          case "point" | "range" =>
            val (k, t) = fx.orders.pruneFiles(pred(op))
            prunes += ("io.table.prune_kept_frac" -> k.size.toDouble / t)
          case "bm25" | "phrase" =>
            val (k, t) = InvertedIndex.probeFilePlan(spark,
              s"${fx.textPath}/postings",
              InvertedIndex.queryTokens(op.get("query").asText))
            prunes += ("text.index.files_probed_frac" -> k.size.toDouble / t)
          case "topk" =>
            val (k, t) = fx.ivf.probeFilePlan(queries(op), Fixture.NProbe)
            prunes += ("similarity.index.files_probed_frac" -> k.toDouble / t)
          case _ =>
        }
      }
    }
    ctx.out("refreshes") = refreshes.toSeq
    ctx.out("file_plans") = prunes.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).sum / v.size }
    // end-state correctness, outside the timed phase (the indexed BM25
    // answer was compared with brute force at its probe)
    check(checks, "gold_view_equals_plain_aggregate",
      rows(fx.goldOracle), rows(fx.gold))
    val fresh = new IncrementalIvfPqIndex(spark, s"${fx.root}/emb",
      s"${fx.root}/emb_idx_rebuild", m = Fixture.M, ksub = Fixture.Ksub,
      dim = Fixture.Dim)
    fresh.train(fx.ivf.centroids, fx.ivf.codebooks)
    fresh.refresh()
    check(checks, "ivfpq_maintained_equals_rebuild",
      rows(fresh.read()), rows(fx.ivf.read()))
    ctx.out("checks") = checks.toSeq
    if (ctx.trace) {
      Util.deleteTree(Paths.get(s"${fx.root}/emb_idx_rebuild"))
      ctx.out("files_live") = Seq(fx.orders, fx.docs, fx.emb)
        .map(t => t.pruneFiles(lit(true))._2).sum
      // space amplification: bytes under the root ÷ the live rows of its
      // tables written once as plain parquet
      val plain = s"${ctx.work}/plain"
      Seq("orders" -> fx.orders, "docs" -> fx.docs, "emb" -> fx.emb,
        "cust" -> fx.cust, "nat" -> fx.nat).foreach { case (n, t) =>
        t.read().coalesce(1).write.parquet(s"$plain/$n")
      }
      ctx.out("space_amp") = treeBytes(Paths.get(fx.root)).toDouble /
        treeBytes(Paths.get(plain))
    }
  }
}

/** Operator compute: catalog gates over the generated star schema,
  * rewritten in set-up as multi-file, multi-row-group parquet. */
object Gates {
  val MaxPasses = 50

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import Util._
    val tables = ctx.plan.get("tables").fields().asScala.toSeq
      .map(e => e.getKey -> e.getValue.asText)
    val cores = spark.sparkContext.defaultParallelism
    val dir = setup(ctx) { root =>
      tables.foreach { case (name, key) =>
        val df = spark.read.parquet(s"${ctx.plan.get("star").asText}/$name.parquet")
        val shaped =
          if (key.isEmpty) df.coalesce(1)
          else df.repartition(cores, col(key)).sortWithinPartitions(col(key))
        shaped.write.option("parquet.block.size", (256 * 1024).toString)
          .parquet(s"$root/$name.parquet")
      }
      root
    }
    ctx.out("input_dir") = dir
    val gates = ctx.plan.get("gates").asScala.map(_.asText).toSeq
    val byName = graft.Catalog.byName
    val outDir = s"${ctx.work}/gate_out"
    // whole passes only
    loop(ctx, gates.size * MaxPasses, gates.size, 0,
        i => gates(i % gates.size)) { (i, untimed) =>
      val g = byName(gates(i % gates.size))
      val pass = i / gates.size
      // the first pass keeps its outputs for the oracle check
      val dest = if (pass == 0) s"$outDir/${g.name}" else s"$outDir/p${pass}_${g.name}"
      ctx.span(s"gate.${g.name}") {
        g.run(spark, dir).coalesce(1).write.mode("overwrite").parquet(dest)
      }
      // isolation between gates: drop what a gate cached
      untimed {
        if (pass > 0) deleteTree(Paths.get(dest))
        spark.catalog.clearCache()
      }
    }
    ctx.out("gate_outputs") = gates.map(n => n -> s"$outDir/$n").toMap
  }
}

/** Writes the DuckDB oracle SQL of the named gates as one JSON object.
  * Usage: perfbench.Oracles OUT_FILE GATE... */
object Oracles {
  def main(args: Array[String]): Unit = {
    val out = new Out
    args.tail.foreach(n => out(n) = graft.Catalog.byName(n).oracle.getOrElse(""))
    out.write(args.head)
  }
}
