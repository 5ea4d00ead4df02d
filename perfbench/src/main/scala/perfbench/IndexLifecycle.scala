package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Dedup
import graft.streaming.StreamingOps
import scala.util.control.NonFatal
import Timed.timed

/** `index_lifecycle`: writes beside reads over a persisted LSH index: build
  * -> micro-batch ingest through the streaming batch body (one batchId
  * replayed) -> delete -> shard merge -> retrain -> compact, with serve
  * probes after the ingest and the compact. The BM25 and IVF families are
  * left out to keep a full check of the benchmark inside its time budget.
  */
object IndexLifecycle extends Workload {
  val name = "index_lifecycle"

  // id regions: base [0, base), `batches` fresh regions of `perBatch`, then
  // the foreign shard that gets merged in
  val base = 400L
  val perBatch = 40L
  val batches = 1
  val shard = 120L
  val total: Long = base + batches * perBatch + shard
  private def batchLo(b: Int): Long = base + b * perBatch
  private val shardLo: Long = base + batches * perBatch
  // planted copies and probes live far above every real id
  private val copyOffset = 1000000L
  private val probeOffset = 2000000L
  private val mem = StorageLevel.MEMORY_AND_DISK
  private val appId = Some("perfbench")

  private def inRange(c: Column, lo: Long, hi: Long) = c >= lo && c < hi
  private def deleted(c: Column) = c < base && pmod(c, lit(10L)) === 3L

  private val vocab =
    (0 until 400).map(i => "w" + Integer.toString(i * 7919 % 46656, 36))

  /** The seeded corpus: one doc of 30 vocabulary tokens per id. */
  def corpus(spark: SparkSession, seed: Long): DataFrame = {
    val v = typedLit(vocab)
    val docs = spark.range(total).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(30)), i =>
        element_at(v, pmod(xxhash64(col("id"), lit(seed), i),
          lit(vocab.size.toLong)).cast("int") + 1))).as("text"))
      .persist(mem)
    docs.count()
    docs
  }

  /** The LSH family's verbs over the corpus; the corpus sink of the
    * streaming ingest lives under `root`.
    */
  final class Lsh(spark: SparkSession, docs: DataFrame, root: String) {
    private val sink = s"$root/lsh_corpus"
    /** Batch b: exact copies of base docs, which the index must veto, and
      * namespaced uniques that share no shingle with anything.
      */
    private def batch(b: Int): DataFrame = {
      val half = perBatch / 2
      docs.where(inRange(col("doc_id"), b * half, (b + 1) * half))
        .select((col("doc_id") + copyOffset).as("doc_id"), col("text"))
        .unionByName(uniques(b))
    }
    private def uniques(b: Int): DataFrame =
      spark.range(batchLo(b), batchLo(b) + perBatch / 2)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(30)), i =>
            concat(lit("u"), col("id").cast("string"), lit("t"),
              i.cast("string")))).as("text"))
    private val probe = docs.where(pmod(col("doc_id"), lit(13L)) === 0L)
      .select((col("doc_id") + probeOffset).as("doc_id"), col("text"))
    def build(dir: String): Unit = Dedup.saveLshIndex(
      docs.where(col("doc_id") < base), "doc_id", "text", dir, k = 16,
      nBands = 8)
    def ingest(dir: String, b: Int): Unit = StreamingOps.ingestBatch(
      batch(b), dir, sink, jaccardThreshold = 0.8,
      batchId = Some(b.toLong), appId = appId)
    /** Rows of the corpus sink: a replayed batch must leave them unchanged. */
    def sinkRows(): Long = spark.read.parquet(sink).count()
    def delete(dir: String): Unit = Dedup.deleteFromLshIndex(spark, dir,
      docs.where(deleted(col("doc_id"))).select("doc_id"))
    def buildShard(dir: String): Unit = Dedup.saveLshIndex(
      docs.where(col("doc_id") >= shardLo), "doc_id", "text", dir,
      k = 16, nBands = 8)
    def merge(dir: String, shardDir: String): Unit =
      Dedup.mergeLshIndexes(spark, dir, shardDir)
    def retrain(dir: String): Unit =
      Dedup.retrainLshIndex(spark, dir, k = 8, nBands = 4)
    def compact(dir: String): Unit = Dedup.compactLshIndex(spark, dir)
    /** The read probe: every probe doc's matches at Jaccard 0.8 or more. */
    def serve(dir: String): Set[Seq[Any]] = {
      val scope = new Dedup.CacheScope
      try Dedup.matchesAgainstLshIndex(spark, dir, probe, scope = scope)
        .where(col("jaccard") >= 0.8).select("batch_id", "dup_of")
        .collect().map(_.toSeq).toSet
      finally scope.release()
    }
    /** Builds, in `dir`, the one-shot index over everything the lifecycle
      * should have left live.
      */
    def expected(dir: String): Unit = Dedup.saveLshIndex(
      docs.where(col("doc_id") < base && !deleted(col("doc_id")) ||
          col("doc_id") >= shardLo)
        .unionByName((0 until batches).map(uniques).reduce(_.unionByName(_))),
      "doc_id", "text", dir, k = 8, nBands = 4)
    /** Ingest-path invariants, checked after the lifecycle. */
    def ingestChecks(): Seq[Check] = {
      lazy val ids = spark.read.parquet(sink).select("doc_id").collect()
        .map(_.getLong(0)).toSeq
      val want = (0 until batches).flatMap(b =>
        batchLo(b) until batchLo(b) + perBatch / 2)
      Seq(
        Check.run("planted copies vetoed")(!ids.exists(_ >= copyOffset),
          "a planted exact copy survived the index veto"),
        Check.run("uniques land once")(ids.sorted == want,
          s"${want.size} uniques should land once each, found ${ids.size} rows"))
    }
    /** Bytes of user content the lifecycle fed in. */
    lazy val userBytes: Long = textBytes(docs.where(col("doc_id") < base ||
      col("doc_id") >= shardLo)) +
      (0 until batches).map(b => textBytes(batch(b))).sum
  }

  private def textBytes(df: DataFrame): Long =
    df.agg(sum(length(col("text")))).head().getLong(0)

  /** One verb: seconds, listener stats, bytes it landed in the index dir. */
  final case class Verb(verb: String, stats: WindowStats, landedBytes: Long)

  final case class LifecycleRun(verbs: Seq[Verb], serves: Seq[Double],
      filesPre: Long, filesPost: Long, liveBytes: Long, userBytes: Long,
      ops: Long, errors: Seq[String], checks: Seq[Check]) {
    def seconds(v: String): Seq[Double] =
      verbs.filter(_.verb == v).map(_.stats.wallS)
    def times: Seq[Double] = verbs.map(_.stats.wallS) ++ serves
  }

  /** One full lifecycle in a fresh directory under `root`; `check` adds the
    * correctness checks, which run outside every timed window. A verb or
    * probe that throws counts as a failed operation and is not timed.
    */
  def lifecycle(ctx: Ctx, docs: DataFrame, root: String,
      check: Boolean): LifecycleRun = ctx.span("operators.lsh") {
    val lsh = new Lsh(ctx.spark, docs, root)
    val dir = s"$root/lsh"
    val verbs = Seq.newBuilder[Verb]
    val serves = Seq.newBuilder[Double]
    val errors = Seq.newBuilder[String]
    val checks = Seq.newBuilder[Check]
    var ops = 0L
    var seen = Files.listing(new java.io.File(dir))
    def attempt[A](what: String)(f: => A): Option[A] = {
      ops += 1
      try Some(f)
      catch { case NonFatal(e) =>
        errors += s"lsh $what: ${Errors.describe(e)}"
        None
      } finally Dedup.releaseCaches()
    }
    def serve(): Unit = attempt("serve") {
      timed(ctx.span("serve")(lsh.serve(dir)))
    }.foreach { case (t, _) => serves += t }
    // serve probes follow the ingest and the whole maintenance chain (a
    // probe after every verb costs a fifth more run)
    def verb(v: String, probe: Boolean = false)(f: => Unit): Option[Verb] = {
      val done = attempt(v)(ctx.window(ctx.span(v)(f))._1).map { w =>
        val now = Files.listing(new java.io.File(dir))
        val landed = now.collect {
          case (p, s) if !seen.get(p).contains(s) => s }.sum
        seen = now
        Verb(v, w, landed)
      }
      done.foreach(verbs += _)
      if (probe) serve()
      done
    }
    verb("build")(lsh.build(dir))
    (0 until batches).foreach(b =>
      verb("ingest_batch", probe = true)(lsh.ingest(dir, b)))
    // a replayed batchId is a ledger skip: it lands no byte in the index
    // and adds no corpus row
    val before = if (check) Some(scala.util.Try(lsh.sinkRows())) else None
    val replay = verb("replay")(lsh.ingest(dir, 0))
    before.foreach { n =>
      checks += Check.run("replay is a no-op")(
        replay.exists(_.landedBytes == 0) && lsh.sinkRows() == n.get,
        "a replayed batchId changed the index")
    }
    verb("delete")(lsh.delete(dir))
    val shardDir = s"$root/lsh_shard"
    attempt("shard build")(lsh.buildShard(shardDir))
    verb("merge")(lsh.merge(dir, shardDir))
    verb("retrain")(lsh.retrain(dir))
    val filesPre = Files.count(new java.io.File(dir))
    verb("compact", probe = true)(lsh.compact(dir))
    val filesPost = Files.count(new java.io.File(dir))
    val liveBytes = Files.sizeOf(new java.io.File(dir))
    if (check) {
      // the final serve must equal a one-shot build over the survivors
      checks += Check.run("serve equals a one-shot build")({
        val oneDir = s"$root/lsh_oneshot"
        lsh.expected(oneDir)
        lsh.serve(dir) == lsh.serve(oneDir)
      }, "served differently from a one-shot build over the survivors")
      checks ++= lsh.ingestChecks()
    }
    Dedup.releaseCaches()
    LifecycleRun(verbs.result(), serves.result(), filesPre, filesPost,
      liveBytes, lsh.userBytes, ops, errors.result(), checks.result())
  }

  def run(ctx: Ctx): Outcome = {
    // the LSH shingle pipeline resolves graft_hash48 from the session's
    // function registry without registering it (Retrieval and Text do);
    // register it as graft.operators.MaintenanceBench does
    graft.plans.NativeHash48.register(ctx.spark)
    var docs: Option[DataFrame] = None
    val setups = (1 to 3).map { _ =>
      docs.foreach(_.unpersist())
      val (t, d) = timed(corpus(ctx.spark, ctx.seed))
      docs = Some(d)
      t
    }

    def pass(i: Int, check: Boolean): (Double, LifecycleRun) = timed {
      val root = ctx.dir(s"lifecycle_$i")
      try lifecycle(ctx, docs.get, root, check)
      finally Files.delete(new java.io.File(root))
    }
    // one lifecycle outlasts any --seconds a run may have, so a run
    // measures exactly one, timed as its verbs and serve probes (its checks
    // excluded). A traced run adds two warm lifecycles without checks, one
    // untraced and one traced, for the overhead ratio.
    val cold = pass(0, check = true)._2
    val traced = if (ctx.traced) {
      val (untracedS, _) = pass(1, check = false)
      val (tracedS, run) = ctx.withTracing(pass(2, check = false))
      Some((tracedS / untracedS, run))
    } else None
    docs.get.unpersist()

    val all = cold +: traced.map(_._2).toSeq
    val context = Map[String, Any]("base_docs" -> base,
      "batch_rows" -> perBatch, "batches" -> batches, "shard_rows" -> shard,
      "serve_s" -> cold.serves, "user_bytes" -> cold.userBytes,
      "write_amp" -> cold.verbs.map(_.landedBytes).sum.toDouble / cold.userBytes,
      "space_amp" -> cold.liveBytes.toDouble / cold.userBytes)
    val metrics = traced match {
      case None => Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("cold_pass_s", cold.times.sum, "s"),
        ("op_geomean_s", Stats.geomean(cold.times), "s"))
      case Some((overhead, r)) =>
        val mb = 1024.0 * 1024.0
        val landed = r.verbs.map(_.landedBytes).sum
        Layers.spark(r.verbs.map(_.stats).foldLeft(WindowStats.zero)(_ + _)) ++
          Seq(
            ("trace_overhead", overhead, "ratio"),
            ("operators.write_amp", landed.toDouble / r.userBytes, "ratio"),
            ("operators.space_amp", r.liveBytes.toDouble / r.userBytes, "ratio")) ++
          Seq("build", "replay", "delete", "merge", "retrain", "compact")
            .map(v => (s"operators.lsh.${v}_s", r.seconds(v).sum, "s")) ++
          Seq(
            ("operators.lsh.ingest_batch_s",
              Stats.median(r.seconds("ingest_batch")), "s"),
            ("operators.lsh.serve_s", Stats.median(r.serves), "s"),
            ("operators.lsh.files_pre_compact", r.filesPre.toDouble, "count"),
            ("operators.lsh.files_post_compact", r.filesPost.toDouble, "count"),
            ("operators.lsh.written_mb", landed / mb, "MB"),
            ("operators.lsh.jobs", r.verbs.map(_.stats.c.jobs).sum.toDouble,
              "count"))
    }
    Outcome(all.map(_.ops).sum, all.flatMap(_.errors), all.flatMap(_.checks),
      metrics, context)
  }
}
