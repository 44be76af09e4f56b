package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Dedup, SparkEntry}
import graft.candidates.Candidates
import graft.cluster.ConnectedComponents
import graft.gen.Corpus
import graft.keys.Keys
import graft.ops.DocOps
import graft.resolve.Resolver
import graft.schema.{DedupConfig, NearDupConfig}
import graft.state.{HashCache, TableIO}
import graft.util.{CacheScope, Seal}

/** JVM side of the benchmark (`perfbench/run.py` drives it): sets a
  * workload up, warms it for a fixed number of iterations, times iterations
  * for `--seconds` (three at least, so the median is one of several
  * samples), writes every output the correctness checks read, and
  * with `--trace 1` runs one traced iteration plus one call per layer under
  * a [[Tracer]]. Raw numbers go to `<work>/result.json`; all statistics and
  * checks are made by `run.py`.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace, work,
  * warmup, and per workload: clusters/skew (flagship) or
  * tables/queries/trace_queries (ops_queries). */
object Harness {
  final case class Sample(sec: Double, steal: Double, idle: Double)

  val Cpus = 4
  val SetupRepeats = 3
  val MinTimed = 3

  /** (user nice sys idle iowait irq softirq steal) ticks, whole box — the
    * same window diagnostic graft.Bench takes around each timed call. */
  private def procStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
    finally src.close()
  }

  def timed(body: => Unit): Sample = {
    val s0 = procStat()
    val t0 = System.nanoTime()
    body
    val sec = (System.nanoTime() - t0) / 1e9
    val d = procStat().zip(s0).map { case (a, b) => a - b }
    val tot = math.max(1L, d.sum).toDouble
    Sample(sec, d(7) / tot, d(3) / tot)
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the query surface's runtime confs, as SparkEntry.entry and Bench use
    graft.util.Tuning.queryTuned(spark)
    val seed = opt("seed").toLong
    val w: Workload = opt("workload") match {
      case "flagship" => new Flagship(spark, work, seed, opt("clusters").toInt, opt("skew").toInt)
      case "ops_queries" => new OpsQueries(spark, work, opt("tables"),
        opt("queries").split(",").toSeq, opt("trace_queries").split(",").toSeq)
      case other => sys.error(s"unknown workload $other")
    }
    val res = mutable.LinkedHashMap[String, Any]("workload" -> opt("workload"))
    try run(w, spark, opt, res)
    finally {
      Files.writeString(work.resolve("result.json"), Json(res) + "\n")
      spark.stop()
    }
  }

  private def run(w: Workload, spark: SparkSession, opt: Map[String, String],
                  res: mutable.Map[String, Any]): Unit = {
    res("setup_repeats_s") = (1 to SetupRepeats).map { k =>
      val t0 = System.nanoTime(); w.setup(k); since(t0)
    }
    res("info") = w.info
    var index = 0
    // one iteration: untimed preparation, then each timed op; a throwing op
    // is recorded as failed and the iteration's remaining ops are skipped
    def iteration(phase: String): (Map[String, Any], Double) = {
      index += 1
      w.prepare(index)
      System.gc()
      val ops = mutable.LinkedHashMap[String, Any]()
      var wall = 0.0
      var ok = true
      for ((name, body) <- w.ops(index); if ok) {
        try {
          val s = timed(body())
          wall += s.sec
          ops(name) = Map("s" -> s.sec, "steal" -> s.steal, "idle" -> s.idle)
        } catch {
          case e: Throwable =>
            ok = false
            ops(name) = Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
            System.err.println(s"[perfbench] $phase $index $name failed: $e")
        }
      }
      (Map("phase" -> phase, "index" -> index, "ops" -> ops), wall)
    }
    val seconds = opt("seconds").toDouble
    // warm-up: a fixed number of iterations, the first one cold. On 4 cores
    // the JIT still speeds iterations up after as many as a run can afford,
    // and a stop rule on flatness would make runs time different iteration
    // positions; so every run times the same ones, and the per-iteration
    // walls in the output show how far the times have flattened.
    val w0 = System.nanoTime()
    val warm = (1 to opt("warmup").toInt).map(_ => iteration("warmup"))
    res("warmup_total_s") = since(w0)
    val timedIts = mutable.ArrayBuffer[(Map[String, Any], Double)]()
    val t0 = System.nanoTime()
    while (timedIts.size < MinTimed || since(t0) < seconds) timedIts += iteration("timed")
    res("timed_total_s") = since(t0)
    res("iterations") = (warm ++ timedIts).map(_._1)
    res("peak_rss_mb") = vmHwmMb()
    if (opt("trace") == "1") {
      index += 1
      val tr = Tracer.attach(spark.sparkContext)
      val layers = new Layers(spark)
      w.trace(index, layers)
      tr.drain()
      spark.sparkContext.removeSparkListener(tr)
      layers.counts("util.seal_barrier_violations") = CacheScope.sealBarrierViolations
      layers.counts("util.seal_leak_warnings") = Seal.leakWarnings
      res("trace") = Map("windows" -> layers.windows, "counts" -> layers.counts,
                         "jobs" -> tr.dump)
    }
  }
}

/** One benchmark workload: set-up, the timed ops of an iteration (each
  * writes its output for the checks), and its traced layer calls. */
trait Workload {
  def setup(k: Int): Unit
  def info: Map[String, Any]
  /** Untimed preparation before iteration `i`. */
  def prepare(i: Int): Unit = ()
  def ops(i: Int): Seq[(String, () => Unit)]
  def trace(i: Int, layers: Layers): Unit

  protected def spark: SparkSession
  protected def work: Path
  protected def out(name: String): String = work.resolve("out").resolve(name).toString
  protected def write(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(out(name))
}

/** Layer windows and counts of a traced run, and the layer calls of the
  * dedup pipeline in `Dedup.run`'s order, each forced on its own. */
final class Layers(spark: SparkSession) {
  val windows = mutable.LinkedHashMap[String, Seq[Long]]()
  val counts = mutable.LinkedHashMap[String, Any]()

  def window[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    val r = body
    windows(name) = Seq(t0, System.currentTimeMillis())
    r
  }

  def persistedRdds(): Unit = {
    CacheScope.flushDeferred()
    counts("util.persisted_rdds_after_run") = spark.sparkContext.getPersistentRDDs.size
  }

  /** keys → candidates → cluster → resolve over `input`; returns the
    * stage tables (rows, edges, cluster mapping, actions). */
  def dedup(input: DataFrame): Seq[(String, DataFrame)] = {
    val cfg = DedupConfig()
    val filtered = Dedup.filterRows(input, cfg.filter)
    val features = window("keys.featurize") {
      val f = Dedup.featurize(filtered, cfg)
      counts("keys.featurize.rows_out") = f.count()
      f
    }
    val metrics = mutable.ArrayBuffer[DataFrame]()
    def source(name: String)(body: => (DataFrame, Option[DataFrame])): DataFrame = {
      val e = window(s"candidates.$name") {
        val (edges, m) = body
        counts(s"candidates.$name.edges_out") = edges.count()
        m.foreach(metrics += _)
        edges
      }
      e.select("id1", "id2")
    }
    val edges = Seq(
      source("exact")((Seal(Candidates.exactEdges(features, "iid", "key")), None)),
      source("caption_lsh") {
        val (e, m) = Candidates.captionLshEdges(features, "iid", "caption", cfg.near)
        (e, Some(m))
      },
      source("phash_hamming") {
        val (e, m) = Candidates.phashHammingEdges(features, "iid", "phash", cfg.near)
        (e, Some(m))
      },
      source("containment")((Candidates.containmentEdges(features, "iid", "caption", cfg.near), None))
    ).reduce(_ unionByName _)
    val emitted = Seq("exact", "caption_lsh", "phash_hamming", "containment")
      .map(s => counts(s"candidates.$s.edges_out").asInstanceOf[Long]).sum
    counts("candidates.salted_buckets") = metrics
      .map(_.agg(coalesce(sum("salted_buckets"), lit(0L))).first().getLong(0)).sum
    counts("candidates.emitted_edges") = emitted
    counts("candidates.distinct_edges") = edges.distinct().count()
    val cc = window("cluster") {
      val m = ConnectedComponents.runMapping(edges)
      counts("cluster.mapped_nodes") = m.count()
      m
    }
    counts("cluster.edges_in") = emitted
    counts("cluster.rounds") = ConnectedComponents.runWithStats(edges)._2
    val actions = window("resolve") {
      val m = features.select(col("iid"), col("image_id"), col("role"))
        .join(cc.withColumnRenamed("id", "iid"), Seq("iid"), "left")
        .withColumn("_cid", coalesce(col("cluster_id"), col("iid")))
      val names = m.groupBy("_cid").agg(min("image_id").as("_cname"))
      val members = m.join(names, "_cid")
        .select(col("image_id"), col("role"), col("_cname").as("cluster_id"))
      val a = Resolver.resolve(members, cfg.resolve).persist(StorageLevel.MEMORY_AND_DISK)
      counts("resolve.rows_out") = a.count()
      a
    }
    Seq("rows" -> features.select("image_id", "role"), "edges" -> edges,
        "clusters" -> cc, "actions" -> actions)
  }
}

/** Dedup.run over a skewed corpus: candidates and CC dominate. */
final class Flagship(val spark: SparkSession, val work: Path, seed: Long,
                     clusters: Int, skew: Int) extends Workload {
  private val corpora = mutable.ArrayBuffer[String]()
  private def corpus = corpora.last
  private lazy val df = spark.read.parquet(corpus)

  def setup(k: Int): Unit = {
    corpora += work.resolve(s"corpus_$k").toString
    Corpus.generate(spark, clusters, skew, seed).write.mode("overwrite").parquet(corpus)
  }
  def info: Map[String, Any] =
    Map("images" -> df.count(), "corpus" -> corpus, "corpora" -> corpora.toSeq)
  override def prepare(i: Int): Unit = {
    spark.catalog.clearCache(); CacheScope.flushDeferred()
  }
  def ops(i: Int): Seq[(String, () => Unit)] =
    Seq("run" -> (() => write(Dedup.run(df, DedupConfig()), s"run_$i")))

  def trace(i: Int, layers: Layers): Unit = {
    prepare(i)
    layers.window("run")(ops(i).foreach(_._2()))
    layers.persistedRdds()
    prepare(i)
    val tables = layers.dedup(df)
    new StateLayer(spark, work.resolve("state_trace"), seed).trace(df, tables, layers, out)
  }
}

/** The `state` layer, traced on the flagship corpus: hash-cache lookup and
  * merge against a cache holding 90% of the ids, the stage-table commits,
  * then `Dedup.runCheckpointed` on a fresh state root and the same call
  * again on the committed root (resume). */
final class StateLayer(spark: SparkSession, root: Path, seed: Long) {
  private val cfg = DedupConfig()
  private def hashes(df: DataFrame): DataFrame =
    df.select(col("image_id"), Keys.contentHash(col("bytes"), cfg.key.fullHash).as("hash_value"),
              current_timestamp().as("updated_at"))

  def trace(df: DataFrame, tables: Seq[(String, DataFrame)], layers: Layers,
            out: String => String): Unit = {
    val golden = root.resolve("golden").toString
    HashCache.merge(spark, golden,
      hashes(df.where(pmod(xxhash64(col("image_id"), lit(seed)), lit(10L)) < 9)))
    val cache = root.resolve("cache").toString
    Fs.copy(Paths.get(golden), Paths.get(cache))
    val filtered = Dedup.filterRows(df, cfg.filter)
    val misses = layers.window("state.hash_lookup") {
      val (h, m) = HashCache.lookup(spark, cache, filtered.select("image_id"))
      val mp = m.persist(StorageLevel.MEMORY_AND_DISK)
      val (nh, nm) = (h.count(), mp.count())
      layers.counts("state.cache_hit_ratio") = nh.toDouble / math.max(1L, nh + nm)
      mp
    }
    layers.window("state.hash_merge") {
      HashCache.merge(spark, cache, hashes(filtered.join(misses, Seq("image_id"), "left_semi")))
    }
    val state = root.resolve("state")
    layers.window("state.commit") {
      tables.foreach { case (name, t) => TableIO.commit(t, s"$state/$name", name) }
    }
    layers.counts("state.bytes_written") = Fs.size(state) + Fs.size(Paths.get(cache)) -
      Fs.size(Paths.get(golden))
    val ckpt = root.resolve("checkpointed")
    Fs.copy(Paths.get(golden), ckpt.resolve("cache").resolve("partial"))
    def checkpointed(name: String): Unit = Dedup
      .runCheckpointed(df, cfg, ckpt.resolve("state").toString, Some(ckpt.resolve("cache").toString))
      .write.mode("overwrite").parquet(out(name))
    layers.window("state.checkpointed_run")(checkpointed("checkpointed_run"))
    layers.window("state.resume")(checkpointed("checkpointed_resume"))
  }
}

/** The declared queries over generated tables: the workload of `ops`.
  * Each query is forced by writing its result as one parquet file, as
  * graft.Verify does, so every timed execution is checked. */
final class OpsQueries(val spark: SparkSession, val work: Path, tables: String,
                       queries: Seq[String], traceQueries: Seq[String]) extends Workload {
  private def runQuery(q: String, name: String): Unit = {
    write(SparkEntry.queries(q)(spark, tables).coalesce(1), name)
    CacheScope.flushDeferred()
  }
  // the corpus-backed queries share memoized corpora (the sizes their
  // declarations fix); building them is set-up, as in graft.Bench, never
  // part of a query's time
  private def corpora(qs: Seq[String]): Unit = {
    if (qs.contains("q_image_features")) Corpus.cached(spark, 80, 20)
    if (qs.contains("q_dedup_pipeline")) Corpus.cached(spark, 150, 40)
  }
  /** Each repeat generates and materializes the memoized corpus again:
    * dropping the persisted copy makes `Corpus.cached` rebuild it. */
  def setup(k: Int): Unit = {
    if (queries.contains("q_image_features")) Corpus.cached(spark, 80, 20).unpersist(true)
    corpora(queries)
    val sql = SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    Files.createDirectories(work.resolve("out"))
    Files.writeString(work.resolve("out").resolve("oracle_sql.json"), Json(sql))
  }
  def info: Map[String, Any] = Map("queries" -> queries, "tables" -> tables,
    "image_rows" -> Corpus.cached(spark, 80, 20).count())
  def ops(i: Int): Seq[(String, () => Unit)] =
    queries.map(q => q -> (() => runQuery(q, s"${q}_$i")))

  def trace(i: Int, layers: Layers): Unit = {
    layers.window("run")(ops(i).foreach(_._2()))
    layers.persistedRdds()
    // every declared query once
    corpora(traceQueries)
    for (q <- traceQueries) layers.window(s"ops.$q")(runQuery(q, s"trace_$q"))
    // the CC layer as the CC consumers reach it: verified document edges
    val docs = spark.read.parquet(s"$tables/documents.parquet")
    val edges = DocOps.minhashLshEdges(docs, "doc_id", "text",
        NearDupConfig(jaccardThreshold = 0.8)).persist(StorageLevel.MEMORY_AND_DISK)
    layers.counts("cluster.edges_in") = edges.count()
    CacheScope.flushDeferred()
    layers.window("cluster") {
      layers.counts("cluster.mapped_nodes") = ConnectedComponents.runMapping(edges).count()
    }
    layers.counts("cluster.rounds") = ConnectedComponents.runWithStats(edges)._2
    edges.unpersist()
  }
}

/** Directory helpers for the traced state layer's cache copies. */
object Fs {
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally s.close()
  }
  def size(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
