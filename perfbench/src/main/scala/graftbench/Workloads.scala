package graftbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.SparkEntry
import graft.functions.{geo, num}
import graft.ops.{Cluster, Enrich, Graph, Similarity}
import graft.sources.Sources
import graft.tables.Tables

/** An output the harness compares outside the timed phase. */
final case class Check(step: String, kind: String, attrs: Map[String, Any])

/** One timed unit: input rows consumed, latency samples, success. */
final case class UnitRun(rows: Long, samples: Seq[Double], ok: Boolean)

/** Shared state of a run: session, tracer, step outcomes. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String) {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val stepSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.ArrayBuffer.empty[Check]

  /** Runs one step inside a span for `module`; false if it threw. A step
    * that throws is recorded with its exception and never timed.
    */
  def step(module: String, name: String)(body: => Unit): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      tracer.span(module)(body)
      stepSeconds.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      true
    } catch {
      case NonFatal(e) =>
        failures += ((name, s"${e.getClass.getName}: ${e.getMessage}".take(400)))
        false
    } finally tracer.endStep()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def parquet(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  /** Runs declared query `q` over `dir`, writes it and registers its oracle check. */
  def declared(module: String, q: String, dir: String): Boolean = {
    val out = s"$work/check/$q"
    oracle(q, out, dir)
    step(module, q)(parquet(SparkEntry.queries(q)(spark, dir), out))
  }

  /** Registers the check of declared query `q`'s output at `out`. */
  def oracle(q: String, out: String, dir: String): Unit =
    checks += Check(q, "oracle", Map("path" -> out, "tables" -> dir,
      "sql" -> SparkEntry.oracleSql(q)))
}

trait Workload {
  /** Untimed pass over the same code paths; its outputs are checked. */
  def warm(c: Ctx): Unit
  /** Timed unit `i` (0-based; units cycle through the workload's input). */
  def unit(c: Ctx, i: Int): UnitRun
  /** False once the workload's input has no unit left to time. */
  def hasNext: Boolean = true
  /** Units a traced run times, once untraced and once traced. */
  def traceUnits: Int
  /** Saves and restores the state the timed units mutate. */
  def snapshot(): Unit = ()
  def restore(): Unit = ()
  /** Untimed steps after the timed phase, registering their checks. */
  def finish(c: Ctx): Unit = ()
}

object Workload {
  def apply(name: String, input: String, work: String, m: Map[String, Any]): Workload = name match {
    case "incident_daily" => new IncidentDaily(input, work, m)
    case "text_curation" => new TextCuration(input, work, m)
    case "vector_graph" => new VectorGraph(input, work, m)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.delete(x))
  }

  def copyTree(from: String, to: String): Unit = {
    deleteTree(to)
    val src = new File(from).toPath
    if (Files.exists(src)) Files.walk(src).forEach { p =>
      val dst = new File(to).toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** The reference pipeline, one arrival batch per unit. The accumulated
  * table is hive-partitioned by arrival batch, so `Sources.writeParquet`
  * under dynamic partition overwrite appends one partition per batch.
  * It starts at the generator's seeded late offset: the batches before it
  * arrive as one prefix table, appended in one untimed write, so every
  * timed batch reads and appends to a near-full table.
  */
final class IncidentDaily(input: String, work: String, m: Map[String, Any]) extends Workload {
  private val nBatches = m("batches").asInstanceOf[Int]
  private val batchRows = m("batch_rows").asInstanceOf[Seq[Int]]
  private val lookback = m("lookback_days").asInstanceOf[Int]
  private val warmBatches = m("warm_batches").asInstanceOf[Int]
  private val prefixBatches = m("prefix_batches").asInstanceOf[Int]
  private val accRoot = s"$work/acc"
  private val acc = s"$accRoot/events.parquet"
  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props",
    "day_of_week", "time_of_day", "flag", "flag_propagated", "type_rank",
    "lat", "lon", "side_of_town", "batch_hourly_avg", "arrival")
  private val dimSchema = StructType(Seq(StructField("user_id", LongType),
    StructField("lat", DoubleType), StructField("lon", DoubleType)))

  private var dim = ""
  private val processed = mutable.ArrayBuffer.empty[Int]
  private var next = 0
  private var saved: (String, Seq[Int], Int) = ("", Nil, 0)

  val traceUnits = 2

  /** The geocode stand-in: a deterministic location per user. */
  private def geocode(missing: DataFrame): DataFrame = missing.select(col("user_id"),
    (lit(geo.TownCenterLat) + (col("user_id") % 21 - 10).cast("double") * 0.01).as("lat"),
    (lit(geo.TownCenterLon) + (col("user_id") % 17 - 8).cast("double") * 0.01).as("lon"))

  private def emptyDim(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dimSchema)

  /** Batch `b` after the watermark, with its derived time columns. */
  private def derived(c: Ctx, b: Int): DataFrame = {
    val raw = c.tracer.span("tables")(Tables(c.spark, f"$input/batches/b$b%04d").events)
    Enrich.deriveTime(Enrich.incrementalAfterWatermark(raw, "ts", lookback),
      col("ts"), col("event_type"), "error").withColumn("arrival", lit(b))
  }

  /** The enriched rows of staged batch `s` with location cache `cache`. */
  private def enrichedOf(s: DataFrame, cache: DataFrame): DataFrame = {
    val flagged = Enrich.propagateFlag(
      s.withColumn("minute_bucket", date_trunc("minute", col("ts"))),
      Seq("minute_bucket", "user_id"), "flag")
    val ranked = Enrich.withFrequencyRank(flagged, "event_type", "type_rank")
    val located = Enrich.withSideOfTown(ranked.join(cache, Seq("user_id"), "left"),
      col("lat"), col("lon"))
    // the hourly composite-key join (q5's shape) over the batch
    val hourly = s.groupBy(date_trunc("hour", col("ts")).as("hb"), col("event_type"))
      .agg(num.fround(sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(col("value")), 4).as("batch_hourly_avg"))
    located.withColumn("hb", date_trunc("hour", col("ts")))
      .join(hourly, Seq("hb", "event_type")).select(cols.map(col): _*)
  }

  private def batch(c: Ctx, b: Int): Boolean = {
    val spark = c.spark
    val t = c.tracer
    val stage = s"$work/stage/b$b"
    val enriched = s"$work/stage/e$b"
    def accumulated(): DataFrame = t.span("sources")(Sources.readParquet(spark, acc))
    def staged(): DataFrame = spark.read.parquet(stage)
    def withAcc(df: DataFrame): DataFrame =
      accumulated().select(df.columns.map(col): _*).unionByName(df)

    val ok = c.step("Enrich", "ingest") {
      c.parquet(Enrich.dedupKeepFirst(withAcc(derived(c, b)), Seq("event_id"), Seq("arrival"))
        .filter(col("arrival") === b), stage)
    } && c.step("Enrich", "rank_top") {
      val s = staged()
      c.noop(Enrich.frequencyRankTop(withAcc(s.select(s.columns.map(col): _*)), "user_id", 10))
    } && c.step("Enrich", "geocode") {
      val out = s"$work/dim/v$b"
      c.parquet(Enrich.upsertDim(t.span("sources")(Sources.readParquet(spark, dim)), staged(),
        Seq("user_id"), geocode), out)
      dim = out
    } && c.step("Enrich", "enrich") {
      c.parquet(enrichedOf(staged(), t.span("sources")(Sources.readParquet(spark, dim))), enriched)
    } && c.step("sources", "append") {
      Sources.writeParquet(Sources.readParquet(spark, enriched), acc, partitionBy = Seq("arrival"))
    } && c.step("sources", "export") {
      Sources.writeCsv(Sources.readParquet(spark, enriched), s"$work/export/b$b")
    } && c.step("Enrich", "health") {
      c.noop(Enrich.nullHealth(accumulated(),
        Seq("value", "props", "lat", "lon", "side_of_town", "batch_hourly_avg")))
    }
    processed += b
    ok
  }

  /** Appends the prefix table, in the column types of an enriched batch
    * (read off an unexecuted plan), and fills the location cache from it.
    */
  private def appendPrefix(c: Ctx): Boolean = c.step("sources", "prefix") {
    val spark = c.spark
    val types = enrichedOf(derived(c, prefixBatches), emptyDim(spark)).schema
    val prefix = c.tracer.span("sources")(Sources.readParquet(spark, s"$input/prefix.parquet"))
    val located = Enrich.withSideOfTown(prefix, col("lat"), col("lon"))
    Sources.writeParquet(located.select(types.map(f => col(f.name).cast(f.dataType)): _*), acc,
      partitionBy = Seq("arrival"))
    dim = s"$work/dim/prefix"
    c.parquet(Enrich.upsertDim(emptyDim(spark), prefix, Seq("user_id"), geocode), dim)
    processed ++= 0 until prefixBatches
  }

  /** The prefix, then the first batches after it; timing continues there. */
  def warm(c: Ctx): Unit = {
    appendPrefix(c)
    (prefixBatches until prefixBatches + warmBatches).foreach(batch(c, _))
    next = prefixBatches + warmBatches
  }

  override def hasNext: Boolean = next < nBatches

  def unit(c: Ctx, i: Int): UnitRun = {
    val b = next
    next += 1
    val t0 = System.nanoTime()
    val ok = batch(c, b)
    UnitRun(batchRows(b), if (ok) Seq((System.nanoTime() - t0) / 1e9) else Nil, ok)
  }

  override def snapshot(): Unit = {
    Workload.copyTree(accRoot, s"$work/snapshot")
    saved = (dim, processed.toSeq, next)
  }

  override def restore(): Unit = {
    Workload.copyTree(s"$work/snapshot", accRoot)
    dim = saved._1
    processed.clear()
    processed ++= saved._2
    next = saved._3
  }

  override def finish(c: Ctx): Unit = {
    c.checks += Check("accumulated_table", "incident_final", Map("path" -> acc,
      "batches" -> processed.toSeq, "input" -> input, "lookback_days" -> lookback))
    c.declared("Enrich", "q5_composite_enrich", accRoot)
    c.declared("Enrich", "q9_null_health", accRoot)
  }
}

/** One curation pass over the corpus per unit (its latency is the
  * batch latency); each step is a declared query, except connected
  * components over the pass's minhash pairs.
  */
final class TextCuration(input: String, work: String, m: Map[String, Any]) extends Workload {
  private val steps = Seq(
    "TextAnalysis" -> "t2_quality_score", "TextAnalysis" -> "t5_lang_id",
    "Dedup" -> "d1_dedup_exact", "Dedup" -> "d2_minhash_lsh",
    "Curation" -> "t44_para_dedup",
    "TextAnalysis" -> "t34_bpe_train", "TextAnalysis" -> "t35_bpe_segment",
    "TextAnalysis" -> "t20_tfidf",
    "Curation" -> "d13_decontam_bloom", "Curation" -> "t27_token_budget")
  private val Pairs = "d2_minhash_lsh"
  private val docs = m("docs").asInstanceOf[Int]
  val traceUnits = 1

  /** One pass over `dir`. With `checked` every output is written to
    * parquet and registered for its check, otherwise to noop. The minhash
    * pairs are always written: the components step reads them back.
    */
  private def pass(c: Ctx, dir: String, checked: Boolean): Boolean = {
    val pairs = s"$work/pairs"
    var ok = true
    def run(module: String, name: String)(body: String => Unit): Unit =
      ok &&= c.step(module, name)(body(s"$work/check/$name"))
    def sink(df: DataFrame, out: String): Unit = if (checked) c.parquet(df, out) else c.noop(df)
    steps.foreach { case (module, q) =>
      run(module, q) { out =>
        val df = SparkEntry.queries(q)(c.spark, dir)
        if (q == Pairs) c.parquet(df, pairs) else sink(df, out)
      }
      if (checked && q != Pairs) c.oracle(q, s"$work/check/$q", dir)
      if (q == Pairs) run("Graph", "cc_components") { out =>
        sink(Graph.connectedComponents(
          c.tracer.span("sources")(Sources.readParquet(c.spark, pairs)), "id1", "id2"), out)
      }
    }
    if (checked) {
      c.checks += Check("cc_components", "components", Map("path" -> s"$work/check/cc_components",
        "pairs" -> pairs, "src" -> "id1", "dst" -> "id2"))
      c.checks += Check("graph_gate", "edges", Map("path" -> pairs,
        "threshold" -> Graph.DriverCcEdgeThreshold, "side" -> "driver"))
    }
    ok
  }

  /** A checked pass over the main input, which also pays the first-run
    * costs. The minhash pairs' oracle is quadratic, so that query is
    * checked on the small input instead.
    */
  def warm(c: Ctx): Unit = {
    pass(c, s"$input/main", checked = true)
    c.declared("Dedup", Pairs, s"$input/check")
  }

  def unit(c: Ctx, i: Int): UnitRun = {
    val t0 = System.nanoTime()
    val ok = pass(c, s"$input/main", checked = false)
    UnitRun(docs, if (ok) Seq((System.nanoTime() - t0) / 1e9) else Nil, ok)
  }
}

/** One round per unit: `probesPerRound` probe batches against one
  * corpus (their latencies are the batch latencies), then the graph tail
  * (k-means, SemDeDup, kNN graph, components, PageRank) over the whole
  * corpus. Every unit does the same mix of work, so the rate does not
  * depend on where the timed phase stops. The warm pass runs the tail and
  * the declared queries of the same operators on the small input, for
  * their checks; the last tail's components, the distributed path, are
  * checked against its kNN edges.
  */
final class VectorGraph(input: String, work: String, m: Map[String, Any]) extends Workload {
  private val nProbes = m("probe_batches").asInstanceOf[Int]
  private val probeSize = m("probe_batch_size").asInstanceOf[Int]
  private val nVectors = m("vectors").asInstanceOf[Int]
  private val dim = 64
  private val knnK = 20
  private val probesPerRound = 2
  val traceUnits = 1

  private def corpus(c: Ctx, dir: String): DataFrame =
    c.tracer.span("tables")(Tables(c.spark, dir).embeddings)

  private def probeBatch(c: Ctx, b: Int): Boolean = {
    val corp = corpus(c, s"$input/main")
    val probes = c.tracer.span("tables")(Tables(c.spark, f"$input/probes/p$b%04d").embeddings)
    c.step("Similarity", "ivf_topk")(c.noop(Similarity.ivfTopK(corp, probes, "embedding", "vec_id", 10))) &&
    c.step("Similarity", "ivfpq_topk")(c.noop(Similarity.ivfPqTopK(corp, probes, "embedding", "vec_id", 10))) &&
    c.step("Similarity", "lsh_topk")(c.noop(Similarity.lshTopK(corp, probes, "embedding", "vec_id", 10, dim)))
  }

  /** The tail over the corpus in `tag`'s input; the kNN edges and the
    * components are written to parquet and registered for their check.
    */
  private def tail(c: Ctx, tag: String): Boolean = {
    val corp = corpus(c, s"$input/$tag")
    val edges = s"$work/$tag/knn_edges"
    val components = s"$work/$tag/cc_components"
    c.checks += Check("cc_components", "components", Map("path" -> components,
      "pairs" -> edges, "src" -> "id", "dst" -> "neighbor_id"))
    c.step("Cluster", "kmeans_assign")(c.noop(Cluster.kmeansAssign(corp, "embedding", "vec_id", k = 8))) &&
    c.step("Cluster", "semdedup_pairs")(c.noop(
      Cluster.semDedupPairs(corp, "embedding", "vec_id", k = 8, threshold = 0.5))) &&
    c.step("Similarity", "knn_graph")(c.parquet(Similarity.knnGraph(corp, "embedding", "vec_id",
      k = knnK, dim = dim).select("id", "neighbor_id"), edges)) &&
    c.step("Graph", "cc_components")(c.parquet(Graph.connectedComponents(
      c.tracer.span("sources")(Sources.readParquet(c.spark, edges)), "id", "neighbor_id"), components)) &&
    c.step("Graph", "pagerank")(c.noop(Graph.pageRank(corp.select("vec_id"),
      c.tracer.span("sources")(Sources.readParquet(c.spark, edges)), iters = 3)))
  }

  def warm(c: Ctx): Unit = {
    val check = s"$input/check"
    Seq("s3_ann_ivf", "s13_ivfpq", "s2_ann_lsh").foreach(c.declared("Similarity", _, check))
    tail(c, "check")
    Seq("Cluster" -> "c1_kmeans", "Cluster" -> "d11_semdedup", "Similarity" -> "s10_knn_graph")
      .foreach { case (module, q) => c.declared(module, q, check) }
  }

  def unit(c: Ctx, i: Int): UnitRun = {
    val probes = (0 until probesPerRound).map { j =>
      val t0 = System.nanoTime()
      probeBatch(c, (i * probesPerRound + j) % nProbes) -> (System.nanoTime() - t0) / 1e9
    }
    val ok = probes.forall(_._1) && tail(c, "main")
    UnitRun(probesPerRound * (nVectors + probeSize) + nVectors, probes.collect { case (true, s) => s }, ok)
  }

  override def finish(c: Ctx): Unit =
    c.checks += Check("graph_gate", "edges", Map("path" -> s"$work/main/knn_edges",
      "threshold" -> Graph.DriverCcEdgeThreshold, "side" -> "distributed"))
}
