package perfbench

import org.apache.spark.sql.functions._
import graft.index.IndexStore
import graft.query.{BM25, Engine}
import graft.streaming.StreamingIndexer
import scala.collection.mutable

/** The write workload, one operation at a time: a cold batch build of the
  * base (first 80 % of the rows), streaming ingest of the increment (last
  * 20 %) in four micro-batches plus seal, mergeStores of the base with the
  * batch-built increment store made in set-up, and deleteDocs of a
  * scattered 1 % of the merged urls.
  *
  * The merge takes the batch-built increment, not the sealed streaming
  * one: mergeStores throws `no counter 'docs' in manifest docmap` on a
  * store sealed by StreamingIndexer (see perfbench/README.md).
  */
object Lifecycle {
  val Batches = 4
  val TimeoutNs: Long = 120L * 1000000000L

  /** Pages per iteration (80 % base, 20 % increment). */
  val Docs = 4000L

  /** Iterations measured even when one outlasts `--seconds`, so that each
    * step's wall is a median of several.
    */
  val MinIterations = 2

  /** Inputs of one iteration: base pages, increment micro-batches and the
    * batch-built increment store.
    */
  final case class Dirs(basePages: String, incBatches: Seq[String], incStore: String)

  /** Walls (ms) and wall-clock windows of one iteration's steps. */
  final case class Step(name: String, ms: Double, fromMs: Long, toMs: Long)

  def run(ctx: Ctx, m: mutable.Map[String, Double]): (Int, Int) = {
    val spark = ctx.spark
    val in = ctx.in
    val conf = Search.conf(ctx)
    val n = Docs
    val nBase = n * 4 / 5
    def enIn(from: Long, until: Long) = (from until until).count(in.isEn).toLong
    val enBase = enIn(0, nBase)
    val enInc = enIn(nBase, n)
    val delRows = in.scatteredRows(n, 10).filter(in.isEn)
    val delUrls = delRows.map(in.url)
    System.err.println(s"[perfbench] lifecycle: $enBase base + $enInc increment " +
      s"en docs, ${delUrls.length} to delete")

    /** Writes the base pages and the increment's micro-batches for rows
      * [from, from + docs); `buildIncrement` makes the increment store.
      */
    def prepare(dir: String, from: Long, docs: Long): Dirs = {
      val base = docs * 4 / 5
      val cuts = (0 to Batches).map(b => from + base + (docs - base) * b / Batches)
      val dirs = Dirs(ctx.dir(s"$dir/base-pages"),
        (0 until Batches).map(b => ctx.dir(s"$dir/inc-$b")), ctx.dir(s"$dir/inc-store"))
      Search.writePages(ctx, from, base, dirs.basePages)
      (0 until Batches).foreach { b =>
        Search.writePages(ctx, cuts(b), cuts(b + 1) - cuts(b), dirs.incBatches(b))
      }
      dirs
    }
    def buildIncrement(in: Dirs): Unit =
      IndexStore.build(spark.read.parquet(in.incBatches: _*), in.incStore, conf)
    var dirs: Dirs = null
    def incStore = dirs.incStore

    /** One pass of the four steps, ingesting the first `batches`
      * micro-batches; each call is one attempted operation of `rec`.
      */
    def iteration(tag: String, in: Dirs, rec: Recorder,
                  batches: Int = Batches): Seq[Step] = {
      val it = s"it-$tag"
      ctx.rm(it)
      val steps = mutable.ArrayBuffer.empty[Step]
      def step(name: String)(body: => Unit): Unit = {
        val from = System.currentTimeMillis()
        val t0 = System.nanoTime()
        rec.timed(name, s"$tag-$name")(
          if (ctx.traced) ctx.tracer.span(tag, name)(_ => body) else body)
        steps += Step(name, (System.nanoTime() - t0) / 1e6, from,
          System.currentTimeMillis())
      }
      step("build")(IndexStore.build(spark.read.parquet(in.basePages),
        ctx.dir(s"$it/base"), conf))
      (0 until batches).foreach { b =>
        step(s"batch$b")(StreamingIndexer.processBatch(
          spark.read.parquet(in.incBatches(b)), b.toLong, ctx.dir(s"$it/stream"), conf))
      }
      step("seal")(StreamingIndexer.seal(spark, ctx.dir(s"$it/stream"), conf))
      step("merge")(IndexStore.mergeStores(spark, ctx.dir(s"$it/base"),
        in.incStore, ctx.dir(s"$it/merged"), conf))
      import spark.implicits._
      step("delete")(IndexStore.deleteDocs(spark, ctx.dir(s"$it/merged"),
        ctx.dir(s"$it/deleted"), delUrls.toDF("url"), conf))
      System.err.println(s"[perfbench] $tag steps (ms): " +
        steps.map(s => f"${s.name}=${s.ms}%.0f").mkString(" "))
      steps.toSeq
    }

    def docs(dir: String) = IndexStore.manifestCounter(dir, "docmap", "docs")
    def postings(dir: String) = IndexStore.manifestCounter(dir, "segments", "postings")
    def sums(dir: String) = spark.read.parquet(s"$dir/termstats")
      .agg(sum("df"), sum("cf")).collect()(0).toSeq.map(_.asInstanceOf[Long])
    /** (term, field, df, cf) of a store, sorted: equal lists are equal
      * multisets.
      */
    def termStats(dir: String): Seq[(String, String, Long, Long)] = {
      import spark.implicits._
      spark.read.parquet(s"$dir/termstats").select("term", "field", "df", "cf")
        .as[(String, String, Long, Long)].collect().toSeq.sorted
    }
    // the increment store is the same in every iteration: its side of the
    // comparisons is read once
    lazy val incFacts = (termStats(incStore), postings(incStore), sums(incStore))

    def verify(it: String): Unit = {
      val (incTs, incPostings, incSums) = incFacts
      val base = ctx.dir(s"$it/base")
      val stream = ctx.dir(s"$it/stream")
      val merged = ctx.dir(s"$it/merged")
      val deleted = ctx.dir(s"$it/deleted")
      ctx.check(docs(base) == enBase, s"$it base docs ${docs(base)} != $enBase")
      ctx.check(StreamingIndexer.ingestedDocs(stream) == enInc,
        s"$it streamed docs ${StreamingIndexer.ingestedDocs(stream)} != $enInc")
      ctx.check(termStats(stream) == incTs,
        s"$it streamed termstats differ from the batch-built increment")
      ctx.check(docs(merged) == enBase + enInc, s"$it merged docs ${docs(merged)}")
      ctx.check(postings(merged) == postings(base) + incPostings,
        s"$it merged postings ${postings(merged)}")
      ctx.check(sums(merged) == sums(base).zip(incSums).map(p => p._1 + p._2),
        s"$it merged df/cf sums ${sums(merged)}")
      val delIdx = Search.open(ctx, deleted)
      val want = enBase + enInc - delUrls.length
      ctx.check(docs(deleted) == want && delIdx.collStats.docCount == want,
        s"$it docs after delete ${docs(deleted)} != $want")
      import spark.implicits._
      ctx.check(delIdx.docmapDf.join(delUrls.toDF("url"), "url").isEmpty,
        s"$it deleted urls remain")
      Inputs.bags(in.rng(s"life-$it"), 2).map(_.mkString(" ")).foreach { q =>
        val e = Search.exact(ctx, new Engine(delIdx, BM25()), Search.bm25Parser,
          q, "verify", false, null)
        val w = Search.wand(ctx, delIdx, q, "verify", trace = false)
        ctx.check(Search.sameHits(w, e), s"$it WAND differs from exact for '$q'")
      }
    }

    /** Per-operation layer numbers of one iteration (traced runs). */
    def stepLayers(it: String, steps: Seq[Step]): Map[String, Double] = {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val by = steps.map(s => s.name -> s).toMap
      def win(s: Step) = ctx.log.inWindow(s.fromMs, s.toMs)
      val base = ctx.dir(s"$it/base")
      val b = by("build")
      val bw = win(b)
      def at(stage: String) =
        IndexStore.manifestCounter(base, stage, "committedAtMs").toDouble
      val fusedEnd = math.max(at("docmap"), at("minisegs-slice-0"))
      val batches = (0 until Batches).map(i => by(s"batch$i"))
      val ingestMs = batches.map(_.ms).sum + by("seal").ms
      val mw = win(by("merge"))
      val dw = win(by("delete"))
      Map(
        "build.fused_s" -> (fusedEnd - b.fromMs) / 1e3,
        "build.termstats_s" -> (at("termstats") - fusedEnd) / 1e3,
        "build.docstats_s" -> (at("docstats") - fusedEnd) / 1e3,
        "build.collstats_s" ->
          (at("collstats") - math.max(at("termstats"), at("docstats"))) / 1e3,
        "build.task_cpu_s" -> bw.cpuMs / 1e3,
        "build.cpu_util" -> bw.cpuMs / (b.ms * ctx.cpus),
        "build.shuffle_write_mb" -> bw.shuffleWriteB / 1048576.0,
        "build.spill_mb" -> bw.spillB / 1048576.0,
        "build.gc_s" -> bw.gcMs / 1e3,
        "build.merge_task_skew" -> bw.heaviestStageSkew,
        "build.docs_per_s" -> enBase / (b.ms / 1e3),
        "index.postings" -> IndexStore.manifestCounter(base, "segments", "postings").toDouble,
        "index.segments" -> IndexStore.manifestCounter(base, "segments", "segments").toDouble,
        "index.segment_mb" ->
          IndexStore.manifestCounter(base, "segments", "bytes") / 1048576.0,
        "index.terms" -> IndexStore.manifestCounter(base, "termstats", "terms").toDouble,
        "index.store_mb" -> duBytes(base) / 1048576.0,
        "ingest.batch_ms" -> Stats.median(batches.map(_.ms)),
        "ingest.seal_s" -> by("seal").ms / 1e3,
        "ingest.jobs_per_batch" -> batches.map(s => win(s).jobs).sum.toDouble / Batches,
        "ingest.docs_per_s" -> enInc / (ingestMs / 1e3),
        "merge.wall_s" -> by("merge").ms / 1e3,
        "merge.jobs" -> mw.jobs.toDouble,
        "merge.task_cpu_s" -> mw.cpuMs / 1e3,
        "merge.write_mb" -> mw.outputB / 1048576.0,
        "delete.wall_s" -> by("delete").ms / 1e3,
        "delete.jobs" -> dw.jobs.toDouble,
        "delete.task_cpu_s" -> dw.cpuMs / 1e3,
        "delete.read_mb" -> dw.inputB / 1048576.0,
        "delete.touched_segments_ratio" -> touchedRatio(ctx.dir(s"$it/merged")))
    }

    /** Share of the merged store's segments whose [first, last] docId
      * range holds a deleted id.
      */
    def touchedRatio(merged: String): Double = {
      import spark.implicits._
      val del = spark.read.parquet(s"$merged/docmap")
        .join(delUrls.toDF("url"), "url").select("docId").as[Long]
        .collect().sorted
      val ranges = spark.read.parquet(s"$merged/segments")
        .filter(col("term") =!= "").select("firstDocId", "lastDocId")
        .as[(Long, Long)].collect()
      val touched = ranges.count { case (f, l) =>
        var i = java.util.Arrays.binarySearch(del, f)
        if (i < 0) i = -i - 1
        i < del.length && del(i) <= l
      }
      if (ranges.isEmpty) 0.0 else touched.toDouble / ranges.length
    }

    // ------------------------------------------------------------ set-up
    // the inputs are written from scratch `Setup.Reps` times (the first
    // time also pays for the JIT); their median wall is what setup_s counts
    val inputS = Setup.repeated { rep =>
      ctx.rm(s"s${rep - 1}")
      dirs = prepare(s"s$rep", 0, n)
    }
    // then the increment store the merges take, and a warm-up: the four
    // steps once over the same inputs (one micro-batch is enough to
    // compile the ingest path), so every path is JIT-compiled before
    // anything is timed. The warm-up's operations count as attempted (and
    // failed) like the rest.
    val warmRec = new Recorder(ctx)
    val setupS = inputS + Setup.once {
      buildIncrement(dirs)
      iteration("warm", dirs, warmRec, batches = 1)
      ctx.rm("it-warm")
    }
    val (warmAttempted, warmFailed) = warmRec.accounting(TimeoutNs)

    // ----------------------------------------------------------- measure
    if (ctx.traced) ctx.log
    val rec = new Recorder(ctx)
    val iters = mutable.ArrayBuffer.empty[Seq[Step]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val gc0 = Jvm.gcMs()
    Jvm.resetHeapPeak()
    ClosedLoop.run(ctx, 1, ctx.seconds, MinIterations) { (_, i) =>
      val steps = iteration(s"i$i", dirs, rec)
      iters += steps
      val v0 = System.nanoTime()
      verify(s"it-i$i")
      System.err.println(s"[perfbench] i$i checks (s): ${(System.nanoTime() - v0) / 1e9}")
      if (ctx.traced) layers += stepLayers(s"it-i$i", steps)
      ctx.rm(s"it-i$i")
    }
    val gcMs = Jvm.gcMs() - gc0

    // ----------------------------------------------------------- metrics
    // the wall of the steps that make stores (build, ingest, seal) and of
    // those that rewrite one (merge, delete): each step's median over the
    // iterations, summed
    def wallOf(names: String => Boolean): Double =
      iters.flatten.filter(s => names(s.name)).groupBy(_.name).values
        .map(ss => Stats.median(ss.map(_.ms).toSeq)).sum
    val isMake = (s: String) => s == "build" || s.startsWith("batch") || s == "seal"
    val makeMs = wallOf(isMake)
    val rewriteMs = wallOf(s => s == "merge" || s == "delete")
    System.err.println(s"[perfbench] ${iters.length} iterations; build+ingest " +
      s"walls (ms): ${iters.map(_.filter(s => isMake(s.name)).map(_.ms).sum).mkString(", ")}; " +
      s"merge+delete (ms): ${iters.map(_.filter(s => !isMake(s.name)).map(_.ms).sum).mkString(", ")}")
    if (!ctx.traced) {
      m.put("setup_s", setupS)
      m.put("op_p50_ms", makeMs)
      m.put("alt_p50_ms", rewriteMs)
      val med = (name: String) => wallOf(_ == name) / 1e3
      val ingestS = wallOf(s => s.startsWith("batch") || s == "seal") / 1e3
      System.err.println(s"[perfbench] build_docs_per_s=${enBase / med("build")} " +
        s"ingest_docs_per_s=${enInc / ingestS} merge_s=${med("merge")} " +
        s"delete_s=${med("delete")}")
    } else {
      layers.headOption.foreach(_.keys.foreach { k =>
        m.put(k, Stats.median(layers.map(_(k)).toSeq))
      })
      m.put("jvm.gc_s", gcMs / 1e3)
      m.put("jvm.heap_peak_mb", Jvm.heapPeakMb())
    }
    val (attempted, failed) = rec.accounting(TimeoutNs)
    (warmAttempted + attempted, warmFailed + failed)
  }

  private def duBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }
}
