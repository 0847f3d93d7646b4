package graft.perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.{FkGraph, GenData, GraftSession, SparkEntry, SubsetCli}
import graft.operators.Subsetter
import graft.queries._
import graft.sources.Sources

/** JVM side of the repository benchmark (`perfbench/run.py` drives it).
  *
  * One JVM per run, `local[nproc]`, one caller, closed loop: each op
  * starts only after the previous one returned. The program is reached
  * only through its public functions; every op is timed here, and in a
  * traced run a [[LayerListener]] attributes Spark jobs, stages, tasks
  * and bytes to the op and to the program module whose frame started
  * the job.
  *
  * Usage: `PerfBench <config.json>`; the config's `mode` is `gen`
  * (write the GenData pools) or `run` (one workload run). A run writes
  * its raw samples to the config's `result` path; run.py turns them
  * into metrics, runs the output checks that need DuckDB and prints the
  * result line.
  */
object PerfBench {
  private[perfbench] val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val cfg = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    cfg("mode") match {
      case "gen" => gen(cfg)
      case "run" =>
        val out = new Run(cfg, mainEntryMs).execute()
        mapper.writeValue(new File(str(cfg, "result")), out)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private[perfbench] def str(m: Map[String, Any], k: String): String = m(k).toString
  private[perfbench] def num(m: Map[String, Any], k: String): Double =
    m(k).asInstanceOf[Number].doubleValue()
  private[perfbench] def strs(m: Map[String, Any], k: String): Seq[String] =
    m(k).asInstanceOf[Seq[Any]].map(_.toString)
  private[perfbench] def obj(m: Map[String, Any], k: String): Map[String, Any] =
    m(k).asInstanceOf[Map[String, Any]]

  /** Generate every GenData rung the workloads read, each into its own
    * directory. Seed-independent: the per-seed draws are made by run.py. */
  private def gen(cfg: Map[String, Any]): Unit = {
    val spark = GraftSession.local("perfbench-gen")
    spark.sparkContext.setLogLevel("WARN")
    try {
      cfg("rungs").asInstanceOf[Seq[Map[String, Any]]].foreach { r =>
        val out = str(r, "dir")
        if (!new File(out).exists()) {
          GenData.generate(spark, num(r, "sf"), out + ".tmp")
          new File(out + ".tmp").renameTo(new File(out))
        }
      }
      cfg.get("pool").map(_.asInstanceOf[Map[String, Any]]).foreach(genPool(spark, _))
      cfg.get("derby").map(_.asInstanceOf[Map[String, Any]]).foreach(genDerby(spark, _))
    } finally spark.stop()
  }

  /** The corpus pool the llm_corpus draws come from: GenData documents
    * and embeddings only, each one parquet part file. */
  private def genPool(spark: SparkSession, p: Map[String, Any]): Unit = {
    val dir = new File(str(p, "dir"))
    if (dir.exists()) return
    val tmp = new File(dir.getPath + ".tmp")
    deleteTree(tmp)
    GenData.documents(spark, num(p, "documents").toLong).coalesce(1)
      .write.parquet(new File(tmp, "documents.parquet").getPath)
    GenData.embeddings(spark, num(p, "embeddings").toLong).coalesce(1)
      .write.parquet(new File(tmp, "embeddings.parquet").getPath)
    tmp.renameTo(dir)
  }

  /** The live-database source: an on-disk Derby database with declared
    * PK/FK constraints, loaded parents first from a GenData rung with
    * each table's rows limited by the spec's `where` predicates. */
  private def genDerby(spark: SparkSession, d: Map[String, Any]): Unit = {
    val dir = new File(str(d, "dir"))
    if (dir.exists()) return
    val tmp = new File(dir.getPath + ".tmp")
    deleteTree(tmp)
    val url = s"jdbc:derby:${tmp.getAbsolutePath};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try strs(d, "ddl").foreach(conn.createStatement().executeUpdate)
    finally conn.close()
    val props = new java.util.Properties()
    obj(d, "tables").toSeq.sortBy { case (_, spec) => num(spec.asInstanceOf[Map[String, Any]], "order") }
      .foreach { case (t, spec) =>
        val sp = spec.asInstanceOf[Map[String, Any]]
        val df = spark.read.parquet(s"${str(d, "from")}/$t.parquet")
          .where(str(sp, "where")).selectExpr(strs(sp, "cols"): _*)
        Sources.appendJdbc(df, url, t, props)
      }
    try java.sql.DriverManager.getConnection(s"jdbc:derby:${tmp.getAbsolutePath};shutdown=true")
    catch { case _: java.sql.SQLException => () }
    tmp.renameTo(dir)
  }

  /** Recursively delete `f` (program state between ops and runs). */
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** CPU time of every thread of this JVM so far (tasks, driver, GC, JIT). */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}

/** One op as the closed loop saw it. */
final case class Op(kind: String, key: String, module: String, start_ns: Long,
                    end_ns: Long, cpu_ns: Long, ok: Boolean, error: String) {
  def seconds: Double = (end_ns - start_ns) / 1e9
}

/** One workload run: set-up, the closed loop, the subset checks, and the
  * raw samples run.py turns into metrics. */
final class Run(cfg: Map[String, Any], mainEntryMs: Long) {
  import PerfBench._

  private val workload = str(cfg, "workload")
  private val seconds = num(cfg, "seconds")
  private val trace = cfg("trace") == true
  private val work = new File(str(cfg, "work"))
  private val cores = Runtime.getRuntime.availableProcessors()

  private val ops = mutable.ArrayBuffer[Op]()
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()
  private val extra = mutable.LinkedHashMap[String, Any]()
  private val layerTimes = mutable.LinkedHashMap[String, Double]()
  private var spark: SparkSession = _
  private val listener = if (trace) new LayerListener() else null

  private def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"perfbench: check failed: $name $detail")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Session start, then the workload's prepare calls: the set-up a user
    * pays once per JVM. Returns (session start s, prepare s). */
  private def setup(prepare: SparkSession => Unit): (Double, Double) = {
    val t0 = System.nanoTime()
    spark = GraftSession.local(s"perfbench-$workload")
    spark.sparkContext.setLogLevel("WARN")
    // the session is ready once it has run a job: the first job pays the
    // scheduler's and code generator's start-up, whichever op it is
    spark.range(1000).selectExpr("sum(id)").collect()
    val t1 = System.nanoTime()
    prepare(spark)
    val t2 = System.nanoTime()
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(listener.streams)
    }
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Time one op. Failures count, they never end the run. */
  private def timeOp(kind: String, key: String, module: String)(body: => Unit): Op = {
    if (trace) spark.sparkContext.setJobGroup(s"op-${ops.size}", s"$kind:$key")
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    val (ok, err) =
      try { body; (true, "") }
      catch { case e: Throwable =>
        System.err.println(s"perfbench: op $kind:$key failed: $e")
        (false, e.toString)
      }
    val op = Op(kind, key, module, t0, System.nanoTime(), processCpuNs() - c0, ok, err)
    if (trace) spark.sparkContext.clearJobGroup()
    ops += op
    op
  }

  /** Per-call timer for a direct call into one layer (traced runs). */
  private def timeLayer[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally layerTimes(name) = layerTimes.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop: whole cycles until `seconds` have passed, at least one. */
  private def loop(cycle: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) { cycle(i); i += 1 }
    extra("cycles") = i
  }

  def execute(): Map[String, Any] = {
    new File(work, "dumps").mkdirs()
    val (start, prep) = workload match {
      case "subset" => new SubsetWorkload().go()
      case "llm_corpus" | "sql_mix" => new QueryWorkload().go()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val layers = if (trace) {
      val kernels = Kernels.measure(spark, str(cfg, "kernel_corpus"))
      listener.finish(spark)
      listener.layers(ops.toSeq, cores, layerTimes.toMap) ++ kernels
    } else Map.empty[String, Any]
    val result = Map(
      "session_start_s" -> start, "prepare_s" -> prep,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "key" -> o.key, "module" -> o.module,
        "s" -> o.seconds, "cpu_s" -> o.cpu_ns / 1e9, "ok" -> o.ok, "error" -> o.error)),
      "checks" -> checks.toSeq,
      "extra" -> extra.toMap,
      "layers" -> layers,
      "main_entry_ms" -> mainEntryMs,
      "peak_rss_mb" -> peakRssMb(),
      "spark_version" -> spark.version,
      "java_version" -> sys.props("java.version"))
    spark.stop()
    result
  }

  // ---------------------------------------------------------------- subset

  /** rdbms-subsetter's job against a live database: a Derby source with
    * declared PK/FK constraints is subset into an empty Derby destination,
    * the graph reflected from the catalog, and the destination audited. */
  private final class SubsetWorkload {
    private val derbySrc = str(cfg, "derby_src")
    private val derbyDest = str(cfg, "derby_dest")
    private val forced: Map[String, Seq[Long]] = obj(cfg, "force")
      .map { case (t, v) => t -> v.asInstanceOf[Seq[Any]].map(_.toString.toLong) }
    private val args = SubsetCli.CliArgs(derbySrc, derbyDest,
      Subsetter.Config(fraction = num(cfg, "fraction"), force = forced), yes = true)

    /** Drop the destination and re-create its empty schema (untimed). */
    private def resetDest(): Unit = {
      val dbDir = new File(str(cfg, "derby_dest_dir"))
      try java.sql.DriverManager.getConnection(
        s"jdbc:derby:${dbDir.getAbsolutePath};shutdown=true")
      catch { case _: java.sql.SQLException => () }
      deleteTree(dbDir)
      val conn = java.sql.DriverManager.getConnection(derbyDest)
      try strs(cfg, "derby_ddl").foreach(conn.createStatement().executeUpdate)
      finally conn.close()
    }

    def go(): (Double, Double) = {
      val times = setup(_ => ())
      val plan = SubsetCli.plan(spark, args)
      val graph = SubsetCli.sourceGraph(args)
      extra("source_rows") = plan.map(_._2).sum
      loop { i =>
        resetDest()
        var written = Map.empty[String, Long]
        timeOp("subset", "derby_to_derby", "subsetter") {
          if (trace) timeLayer("fkgraph.reflect_s") { FkGraph.reflect(derbySrc) }
          written = SubsetCli.run(spark, args)
        }
        var orphans = -1L
        timeOp("validate", "derby_dest", "subsetter") {
          orphans = SubsetCli.validateDest(spark, derbyDest, written.keySet, graph)
            .collect().map(_.getAs[Long]("orphans")).sum
        }
        extra("fill") = written.values.sum.toDouble / plan.map(_._3).sum.toDouble
        extra("rows_written") = written.values.sum
        checkCycle(i, plan, written, orphans, graph)
      }
      if (trace) timeLayer("sources.footer_s") {
        val d = str(cfg, "kernel_corpus")
        graft.Catalog.tableNames.foreach(t => Sources.footerRowCount(spark, s"$d/$t.parquet"))
      }
      times
    }

    /** The subset postconditions, checked on every cycle outside the
      * timed ops: no orphans, every table at its target or exhausted,
      * the forced keys present. */
    private def checkCycle(i: Int, plan: Seq[(String, Long, Long)], written: Map[String, Long],
                           orphans: Long, graph: FkGraph): Unit = {
      check(s"c$i.orphans", orphans == 0L, s"$orphans orphans")
      for ((t, n, tgt) <- plan) {
        val g = written.getOrElse(t, 0L)
        check(s"c$i.target.$t", g >= tgt || g == n, s"$g rows, target $tgt of $n")
      }
      val conn = java.sql.DriverManager.getConnection(derbyDest)
      try for ((t, keys) <- forced) {
        val rs = conn.createStatement().executeQuery(
          s"SELECT COUNT(*) FROM $t WHERE ${graph.pks(t).head} IN (${keys.mkString(",")})")
        rs.next()
        val found = rs.getLong(1)
        check(s"c$i.forced.$t", found == keys.distinct.size, s"$found of ${keys.distinct.size}")
      } finally conn.close()
    }
  }

  // -------------------------------------------------- llm_corpus / sql_mix

  /** Declared query keys in seeded order, one at a time. Every op
    * materialises all of the key's rows into a parquet sink under
    * `dumps/<key>`, which run.py then checks. */
  private final class QueryWorkload {
    private val dir = str(cfg, "data_dir")
    private val orders = cfg("orders").asInstanceOf[Seq[Seq[Any]]].map(_.map(_.toString))
    private val keys = orders.head.sorted
    private val moduleOf: Map[String, String] = Seq(
      "relational" -> RelationalQueries.defs, "core" -> CoreQueries.defs,
      "text" -> TextQueries.defs, "similarity" -> SimilarityQueries.defs,
      "event" -> EventQueries.defs, "multimodal" -> MultimodalQueries.defs,
      "profile" -> ProfileQueries.defs, "graph" -> GraphQueries.defs)
      .flatMap { case (m, defs) => defs.keys.map(_ -> m) }.toMap

    private def runKey(key: String): Unit = {
      // a stream key resumes from its checkpoint under target/stream_sinks;
      // clearing it makes every op stream
      if (key.startsWith("stream_")) deleteTree(new File("target/stream_sinks"))
      timeOp("query", key, moduleOf(key)) {
        SparkEntry.queries(key)(spark, dir)
          .write.mode("overwrite").parquet(new File(work, s"dumps/$key").getPath)
      }
      graft.plans.Checkpoints.clearAll(spark)
    }

    def go(): (Double, Double) = {
      mapper.writeValue(new File(work, "oracle_sql.json"),
        SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) })
      val times = setup(Sources.calibrateScanSplit(_, dir))
      loop(i => orders(i % orders.size).foreach(runKey))
      extra("recall") = keys.filter(_.contains("recall")).map { k =>
        k -> spark.read.parquet(new File(work, s"dumps/$k").getPath)
          .select("recall").collect().map(_.getDouble(0)).min
      }.toMap
      times
    }
  }
}

/** Direct calls into the `plans` kernels on arrays taken from the
  * corpus: ns per row for each kernel, best of three passes. */
object Kernels {
  /** Where the kernels' results go, so the JIT cannot drop the calls. */
  @volatile var blackhole = 0L

  def measure(spark: SparkSession, dir: String): Map[String, Any] = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(split(col("text"), " ").as("t")).limit(2000).collect()
      .map(r => new GenericArrayData(r.getSeq[String](0).map(UTF8String.fromString).toArray[Any]))
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text").limit(2000)
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding").limit(2000)
      .collect().map(r => new GenericArrayData(r.getSeq[Float](0).map(_.toDouble).toArray[Any]))
    val dim = vecs.head.numElements()
    val flat = new GenericArrayData(vecs.take(64).flatMap(_.toDoubleArray()).map(x => x: Any))
    val hashes = docs.map(graft.plans.GraftHashes.shingleHashes(_, 5))
    val stop = Array("a", "the", "and", "of").map(UTF8String.fromString)
    var sink = 0L
    def bench(n: Int)(f: Int => Long): Double =
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { sink += f(i); i += 1 }
        (System.nanoTime() - t0).toDouble / n
      }.min
    val nd = docs.length; val nv = vecs.length
    val out = Map(
      "shingle_hashes" -> bench(nd)(i => graft.plans.GraftHashes.shingleHashes(docs(i), 5).numElements()),
      "minhash" -> bench(nd)(i => graft.plans.GraftHashes.minhash(docs(i), 5, 64).numElements()),
      "minhash_from_hashes" -> bench(nd)(i =>
        graft.plans.GraftHashes.minhashFromHashes(hashes(i), 64).numElements()),
      "intersect_count" -> bench(nd)(i =>
        graft.plans.GraftSets.intersectCount(hashes(i), hashes((i + 1) % nd))),
      "cosine_many" -> bench(nv)(i => graft.plans.GraftVector.cosineMany(vecs(i), flat, dim).numElements()),
      "lsh_buckets" -> bench(nv)(i => graft.plans.GraftLsh.lshBuckets(vecs(i), 0, 16, 4).numElements()),
      "word_count" -> bench(nd)(i => graft.plans.GraftScores.wordCount(docs(i), stop)),
      "fingerprint" -> bench(nd)(i => graft.plans.GraftScores.fingerprint(docs(i))),
      "edit_distance" -> bench(texts.length)(i =>
        graft.plans.GraftEditDistance.bounded(texts(i), texts((i + 1) % texts.length), 32)))
    blackhole = sink
    out.map { case (k, v) => s"plans.$k.ns_per_row" -> v }
  }
}
