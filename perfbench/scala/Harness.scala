package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionCaches, SparkEntry, Tables}
import graft.operators.Sink
import graft.streaming.{DedupStream, IvfStream}

/** The benchmark's closed-loop client: one thread, one Spark session,
  * each operation issued only after the previous one returned.
  *
  * Usage (normally launched by `perfbench/run.py`):
  *   Harness <workload> <dataDir> <checkDir> <workDir> <seconds> <seed> <trace 0|1> <cores>
  *
  * Phases: session set-up, the client's untimed preparation (check
  * outputs, warm-up), timed passes until `seconds` have elapsed (at least
  * one), each followed by untimed full GCs that sample the live
  * memory, then the client's untimed output checks. With trace 1, timed
  * passes alternate between traced (listeners attached, spans kept) and
  * untraced, so the run also yields its own tracing overhead. Everything measured goes to
  * `<workDir>/record.json`; `run.py` turns it into metrics.
  */
object Harness {

  /** The reference-parity stocks headline queries but `sma`, which runs
    * alone as the `stocks_sma` workload: its `sma_50` rounds a 32-row
    * partial mean, which has 7 decimals, at 6, so on about half the
    * seeds an exact tie splits Spark from its DuckDB oracle (an engine
    * defect). Kept apart, the battery holds only operations that pass on
    * every seed, and the failure still shows in `stocks_sma`.
    */
  val stocksBattery: Seq[String] = Seq(
    "stocks_derive", "ma_gated", "bollinger", "rsi", "volatility",
    "ema_macd", "quality_flags", "merge_upsert", "perf_summary",
    "compare_pivot")

  val corpusBatch: Seq[String] = Seq(
    "dedup_simhash_pairs", "dedup_minhash_lsh", "embed_ivf_topk",
    "contamination_check", "dedup_clusters", "text_nb_langid",
    "text_phrase_search", "embed_pca_power", "sketch_hist_quantiles",
    "dedup_suffix_repeats")

  /** The `Tables` handles each query reads; the client resolves them
    * itself before building the query, which is how the tables layer is
    * timed from outside.
    */
  def tablesOf(q: String): Seq[String] =
    if (q == "sma" || stocksBattery.contains(q)) Seq("stocks")
    else if (q.startsWith("embed_")) Seq("embeddings")
    else if (q.startsWith("sketch_")) Seq("lineitem")
    else Seq("documents")

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, checkDir, workDir, secondsS, seedS, traceS, coresS) = args
    val seconds = secondsS.toDouble
    val seed = seedS.toLong
    val traced = traceS == "1"
    val spark = SparkSession.builder()
      .master(s"local[$coresS]")
      .config("spark.sql.shuffle.partitions", coresS)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)
    val client = workload match {
      case "stocks_battery" => new QueryClient(spark, rec, dataDir, checkDir, workDir,
        stocksBattery, evictEachPass = false)
      case "stocks_sma" => new QueryClient(spark, rec, dataDir, checkDir, workDir,
        Seq("sma"), evictEachPass = false)
      case "corpus_batch" => new QueryClient(spark, rec, dataDir, checkDir, workDir,
        corpusBatch, evictEachPass = true)
      case "index_ingest" => new IngestClient(spark, rec, dataDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec.loadStart = Recorder.loadAvg()
    val rng = new Random(seed)
    client.prepare(traced, rng)
    val t0 = Clock.ms
    rec.firstTimedMs = t0
    var pass = 0
    // at least one pass, and under trace one traced and one untraced
    while (pass < (if (traced) 2 else 1) || Clock.ms - t0 < seconds * 1000) {
      val tracedPass = traced && pass % 2 == 0
      if (tracedPass) rec.attach()
      val p0 = Clock.ms
      client.timedPass(pass, rng)
      val p1 = Clock.ms
      if (tracedPass) rec.detach()
      client.afterPass(pass, tracedPass)
      val (heapMb, nonHeapMb) = Recorder.liveMb()
      rec.passes += Recorder.Pass(pass, p0, p1, tracedPass, heapMb, nonHeapMb)
      pass += 1
    }
    rec.loadEnd = Recorder.loadAvg()
    val checks = client.checks()
    rec.write(s"$workDir/record.json", workload, seed, coresS.toInt, checks,
      client.extra)
    spark.stop()
  }
}

/** Wall clock in epoch milliseconds at nanosecond resolution, so spans
  * line up with the millisecond timestamps Spark's listener events carry.
  */
object Clock {
  private val e0 = System.currentTimeMillis().toDouble
  private val n0 = System.nanoTime()
  def ms: Double = e0 + (System.nanoTime() - n0) / 1e6
}

/** One workload's client; `timedPass` is what `pass_s` measures. */
trait Client {
  /** Untimed work before the first timed pass. */
  def prepare(traced: Boolean, rng: Random): Unit
  def timedPass(pass: Int, rng: Random): Unit
  def afterPass(pass: Int, traced: Boolean): Unit = ()
  /** Untimed output checks after the timed passes: (name, ok, detail). */
  def checks(): Seq[(String, Boolean, String)] = Nil
  def extra: Map[String, Any] = Map.empty
}

/** The query workloads: each operation resolves the query's table
  * handles, builds the query, then runs it through the noop sink (the
  * `graft.Bench` action, which forces every projected column).
  */
final class QueryClient(spark: SparkSession, rec: Recorder, dataDir: String,
    checkDir: String, workDir: String, names: Seq[String], evictEachPass: Boolean)
    extends Client {

  private val qs = SparkEntry.queries

  private def handle(t: String, dir: String): DataFrame = t match {
    case "stocks" => Tables.stocks(spark, dir)
    case "documents" => Tables.documents(spark, dir)
    case "embeddings" => Tables.embeddings(spark, dir)
    case "lineitem" => Tables.lineitem(spark, dir)
  }

  private def build(q: String, dir: String = dataDir): DataFrame = {
    Harness.tablesOf(q).foreach(t => rec.table(t)(handle(t, dir)))
    val df = rec.span("queries", q)(qs(q)(spark, dir))
    rec.built(df.queryExecution)
    df
  }

  /** Untimed passes compile the query plans and, for the stocks battery,
    * fill the session caches it keeps warm. A fixed count, so that every
    * run starts timing after the same JIT work: passes kept getting faster
    * for ~15 passes (2.7 s to 1.7 s on 4 vCPUs) while C2 compiled the
    * planner and the executors' code. Five, and a longer timed window,
    * gave steadier medians than more warm-up and a shorter window.
    */
  def prepare(traced: Boolean, rng: Random): Unit =
    (-QueryClient.warmupPasses until 0).foreach(timedPass(_, rng))

  /** Writes every query's output over the check input, for run.py to
    * compare with the DuckDB oracle.
    */
  override def checks(): Seq[(String, Boolean, String)] = {
    val out = s"$workDir/results"
    names.foreach { q =>
      build(q, checkDir).write.mode("overwrite").parquet(s"$out/$q")
    }
    val oracle = SparkEntry.oracleSql
    Json.writeFile(s"$out/oracle_sql.json", names.map(q => q -> oracle(q)).toMap)
    Nil
  }

  def timedPass(pass: Int, rng: Random): Unit = {
    if (evictEachPass)
      rec.op(pass, "evict", "SessionCaches.evictSession", counted = false) {
        rec.span("tables", "SessionCaches.evictSession")(SessionCaches.evictSession(spark))
      }
    rng.shuffle(names).foreach { q =>
      rec.op(pass, "query", q) {
        val df = build(q)
        rec.span("exec", s"$q.noop")(df.write.format("noop").mode("overwrite").save())
      }
    }
  }

  override def afterPass(pass: Int, traced: Boolean): Unit =
    if (traced) rec.sampleCachedMb()
}

object QueryClient {
  val warmupPasses = 5
}

/** The stored-index workload. A pass builds a dedup index and an IVF-PQ
  * index from the base set, ingests K batches through the streaming
  * replays with one lookup round (stored classify + stored search) at a
  * seeded point among them, then runs one takedown delete, one compaction and a
  * final lookup round. A pass starts from scratch, so the first one runs
  * in a cold JVM as a daily ingestion job would; only a traced run warms
  * up first, so that its traced and untraced passes compare like with
  * like.
  */
final class IngestClient(spark: SparkSession, rec: Recorder, dataDir: String,
    workDir: String) extends Client {

  private val in = s"$dataDir/ingest"
  private val cfg = Json.read(s"$in/config.json")
  private val batches = cfg.get("batches").asInt
  private val baseDocs = cfg.get("base_docs").asLong
  private val vecFrom = cfg.get("base_vec_from").asLong
  private val nProbeVecs = cfg.get("probe_vecs").asInt
  private val takedown: Seq[Long] =
    cfg.get("takedown").asText.split(",").toSeq.filter(_.nonEmpty).map(_.toLong)

  private def base: DataFrame = rec.table("documents")(Tables.documents(spark, dataDir))
    .filter(col("doc_id") < baseDocs).select("doc_id", "text")
  private def baseVecs: DataFrame = rec.table("embeddings")(Tables.embeddings(spark, dataDir))
    .filter(col("vec_id") >= vecFrom).select("vec_id", "embedding")
  private lazy val probeDocs = spark.read.parquet(s"$in/probe_docs.parquet")
  private lazy val probeVecs = spark.read.parquet(s"$in/probe_vecs.parquet")
  private lazy val takedownDf = {
    import spark.implicits._
    takedown.toDF("id")
  }

  private var lastPass = -1
  private var finalVerdicts = Seq.empty[(Long, String, Option[Long], Option[Double])]
  private val liveAtEnd = ArrayBuffer[Double]()
  private val inputBytesAtEnd = ArrayBuffer[Double]()
  private val deletedHits = ArrayBuffer[String]()

  private def root(pass: Int) = s"$workDir/index/p$pass"

  /** One call into the sink or streaming layer; in traced passes the
    * index directory is listed before and after, outside the span, so
    * the files and bytes the call wrote are attributed to it.
    */
  private def call[T](pass: Int, kind: String, layer: String, name: String,
      indexDir: String)(f: => T): T = {
    val before = if (rec.attached) FsSnap.of(indexDir) else Map.empty[String, Long]
    val r = rec.op(pass, kind, name)(rec.span(layer, name)(f))
    if (rec.attached) rec.sinkFiles(kind, name, before, FsSnap.of(indexDir))
    r
  }

  private def lookups(pass: Int, r: String, tag: String,
      afterDelete: Boolean): Seq[(Long, String, Option[Long], Option[Double])] = {
    val verdicts = call(pass, "search", "sink", "Sink.classifyWithDedupIndex", s"$r/dedup") {
      Sink.classifyWithDedupIndex(spark, probeDocs, s"$r/dedup")
        .select("doc_id", "verdict", "dup_of", "jaccard").collect().toSeq
    }
    val hits = call(pass, "search", "sink", "Sink.searchIvfPqIndex", s"$r/ivfpq") {
      Sink.searchIvfPqIndex(spark, probeVecs, s"$r/ivfpq", nProbeVecs, 3, 10, 4, 16)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    }
    if (afterDelete) {
      val bad = hits.filter(takedown.contains)
      if (bad.nonEmpty) deletedHits += s"pass $pass $tag: search returned deleted ids ${bad.mkString(",")}"
    }
    verdicts.map(v => (v.getLong(0), v.getString(1),
      Option(v.get(2)).map(_.toString.toLong),
      Option(v.get(3)).map(_.toString.toDouble)))
  }

  private def runPass(pass: Int, rng: Random): Unit = {
    val r = root(pass)
    call(pass, "build", "sink", "Sink.writeDedupIndex", s"$r/dedup") {
      Sink.writeDedupIndex(base, s"$r/dedup")
    }
    call(pass, "build", "sink", "Sink.writeIvfPqIndexSized", s"$r/ivfpq") {
      Sink.writeIvfPqIndexSized(baseVecs, s"$r/ivfpq", 64, 2, 4, 16, 8)
    }
    // the seed places the interleaved lookup among the batches
    val lookupAfter = rng.nextInt(batches + 1)
    if (lookupAfter == 0) lookups(pass, r, "before batches", afterDelete = false)
    (0 until batches).foreach { b =>
      call(pass, "ingest", "streaming", "DedupStream.runIngestReplay", s"$r/dedup") {
        DedupStream.runIngestReplay(spark, s"$in/docs_b$b/*.parquet", s"$r/dedup",
          s"$r/ckpt/docs_b$b", s"$r/verdicts/b$b")
      }
      call(pass, "ingest", "streaming", "IvfStream.runPqMaintainReplay", s"$r/ivfpq") {
        IvfStream.runPqMaintainReplay(spark, s"$in/vecs_b$b/*.parquet", s"$r/ivfpq",
          s"$r/ckpt/vecs_b$b", s"$r/maintain_log")
      }
      if (b + 1 == lookupAfter) lookups(pass, r, s"after batch $b", afterDelete = false)
    }
    call(pass, "delete", "sink", "Sink.deleteFromDedupIndex", s"$r/dedup") {
      Sink.deleteFromDedupIndex(spark, s"$r/dedup", takedownDf.select(col("id").as("doc_id")))
    }
    call(pass, "delete", "sink", "Sink.deleteFromIvfIndex", s"$r/ivfpq") {
      Sink.deleteFromIvfIndex(spark, s"$r/ivfpq", takedownDf.select(col("id").as("vec_id")))
    }
    call(pass, "compact", "sink", "Sink.compactDedupIndex", s"$r/dedup") {
      Sink.compactDedupIndex(spark, s"$r/dedup")
    }
    call(pass, "compact", "sink", "Sink.compactIvfIndex", s"$r/ivfpq") {
      Sink.compactIvfIndex(spark, s"$r/ivfpq")
    }
    finalVerdicts = lookups(pass, r, "final", afterDelete = true).sortBy(_._1)
    lastPass = pass
  }

  /** Base ∪ accepted − deleted, from the verdicts the replays wrote. */
  private def liveDocs(r: String): DataFrame = {
    val accepted = spark.read.parquet(s"$r/verdicts/*")
      .filter(col("verdict") === "new").select("doc_id")
    val drops = spark.read.parquet(s"$in/docs_b*/*.parquet")
    base.unionByName(drops.join(accepted, Seq("doc_id"), "left_semi")
        .select("doc_id", "text"))
      .filter(!col("doc_id").isin(takedown: _*))
  }

  def prepare(traced: Boolean, rng: Random): Unit =
    if (traced) {
      runPass(-1, rng)
      FsSnap.deleteTree(root(-1))
    }

  /** The last pass's final classify must equal a classify against an
    * index rebuilt from base ∪ accepted − deleted (the invariant of the
    * dedup_index_delete_compact oracle), and no search after the delete
    * may return a deleted id.
    */
  override def checks(): Seq[(String, Boolean, String)] = {
    val got = finalVerdicts
    val r = root(lastPass)
    Sink.writeDedupIndex(liveDocs(r), s"$r/fresh")
    val want = Sink.classifyWithDedupIndex(spark, probeDocs, s"$r/fresh")
      .select("doc_id", "verdict", "dup_of", "jaccard").collect().toSeq
      .map(v => (v.getLong(0), v.getString(1),
        Option(v.get(2)).map(_.toString.toLong),
        Option(v.get(3)).map(_.toString.toDouble)))
      .sortBy(_._1)
    val verdictsOk = got == want
    val diff = got.diff(want).take(3).mkString("; ")
    val kinds = got.groupBy(_._2).map { case (k, v) => s"$k=${v.size}" }.mkString(",")
    Seq(
      ("classify_equals_rebuild", verdictsOk,
        if (verdictsOk) s"${got.size} verdicts ($kinds)" else s"stored≠rebuild: $diff"),
      ("search_excludes_deleted", deletedHits.isEmpty,
        deletedHits.headOption.getOrElse(s"${takedown.size} deleted ids never returned")))
  }

  def timedPass(pass: Int, rng: Random): Unit = runPass(pass, rng): Unit

  override def afterPass(pass: Int, traced: Boolean): Unit = {
    val r = root(pass)
    FsSnap.deleteTree(root(pass - 1))
    liveAtEnd += (FsSnap.of(s"$r/dedup").values.sum + FsSnap.of(s"$r/ivfpq").values.sum).toDouble
    if (inputBytesAtEnd.isEmpty) {
      val docBytes = liveDocs(r)
        .agg(sum(octet_length(col("text")) + 8L)).head().getLong(0)
      val vecRows = baseVecs.count() + spark.read.parquet(s"$in/vecs_b*/*.parquet").count() -
        baseVecs.filter(col("vec_id").isin(takedown: _*)).count()
      inputBytesAtEnd += (docBytes + vecRows * (8L + 4L * 64L)).toDouble
    }
    if (traced) rec.sampleCachedMb()
  }

  override def extra: Map[String, Any] = Map(
    "live_index_bytes" -> liveAtEnd.toSeq,
    "live_input_bytes" -> inputBytesAtEnd.headOption.getOrElse(0.0),
    "search_violations" -> deletedHits.toSeq)
}

/** Recursive listing of a local directory: path → size, without the
  * checksum side files.
  */
object FsSnap {
  def of(dir: String): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile && !f.getName.endsWith(".crc") && f.getName != "_SUCCESS")
        b += f.getPath -> f.length
    walk(new java.io.File(dir))
    b.result()
  }

  def deleteTree(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
}
