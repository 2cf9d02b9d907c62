package perfbench

import java.io.File
import java.sql.Timestamp

import graft.SparkEntry
import graft.canon.ConnectedComponents
import graft.emit.Emit
import graft.enrich.Enrich
import graft.extract.Extract
import graft.incr.Incremental
import graft.link.Link
import graft.meta.Snapshot
import graft.mention.Mention
import graft.model._
import graft.ops.AnnOps
import graft.pipeline.Pipeline
import graft.synth.{BenchInput, Synth, SynthConfig}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The `kg_build` workload: `Pipeline.build` of a seeded realistic corpus
  * into an empty store, one build after another (closed loop, one
  * client) until the run's seconds are spent.
  *
  * Gates: set-up runs `Pipeline.run` on the same input ([[reference]]),
  * and after the timed section every committed table of every store must
  * have the reference's checksum ([[storeDiffers]]). `run.py` then
  * re-derives each store's triples in DuckDB from its committed
  * intermediates ([[triplesOracleSql]]) and checks the snapshot stamps of
  * the manifests and the PROJECT root.
  *
  * The traced run (`trace = true`) makes the same build re-composed from
  * each layer's public function inside `Snapshot.stage`, one span per
  * call, guards it against the shipping code, then traces one
  * `Incremental.updateFromStored` of a small seeded delta on its store
  * for the `incr` layer.
  */
object KgBuild {
  val Pages = 1000L
  val Buckets = 32
  val SnapshotA = "perfbench-a"
  val SnapshotB = "perfbench-b"
  val KgLayers = Seq("extract", "mention", "link", "canon", "emit", "enrich",
    "ann", "meta", "incr")

  final case class Input(cfg: SynthConfig, dir: String) {
    def pages(spark: SparkSession): Dataset[PageRow] = {
      import spark.implicits._
      spark.read.parquet(dir).as[PageRow]
    }
    def aliases(spark: SparkSession) = Synth.aliases(spark, cfg)
    def sameAs(spark: SparkSession) = Synth.sameAs(spark, cfg)
  }

  /** Seeded corpus in the benchmark's own work dir, in BenchInput's
    * part-file layout (BenchInput.dirFor keys on nPages only). */
  def writeCorpus(spark: SparkSession, work: String, seed: Long): Input = {
    val cfg = BenchInput.cfg(Pages).copy(seed = seed)
    val dir = s"$work/corpus"
    // Synth.pages is spark.range(n).flatMap: with one range partition per
    // part file the table lands in the PartFiles layout without a shuffle
    val key = "spark.sql.leafNodeDefaultParallelism"
    spark.conf.set(key, BenchInput.PartFiles.toString)
    try Synth.pages(spark, cfg).write.mode("overwrite").parquet(dir)
    finally spark.conf.unset(key)
    val parts = new File(dir).list().count(f => f.startsWith("part-") && f.endsWith(".parquet"))
    require(parts == BenchInput.PartFiles,
      s"corpus has $parts part files, BenchInput's layout needs ${BenchInput.PartFiles}")
    Input(cfg, dir)
  }

  def build(spark: SparkSession, in: Input, out: String): Unit =
    Pipeline.build(spark, in.pages(spark), in.aliases(spark), in.sameAs(spark),
      in.cfg.nPages, out, SnapshotA, Buckets)

  /** Per committed table of a store: its columns (name and type) and the
    * checksum they must have. */
  type Reference = Seq[(String, Seq[StructField], String)]

  /** What `Pipeline.build` must commit, from the in-memory `Pipeline.run`
    * on the same input (`pages` with `in`'s aliases): its extracted, candidates, linked, canon, triples,
    * nodes (bar the PROJECT root, which carries the snapshot id) and
    * adjacency; and `enriched` and `ann_ivf` from the layer calls
    * `Pipeline.build` makes for them, over `Pipeline.run`'s tables. */
  def reference(spark: SparkSession, in: Input, pages: Dataset[PageRow]): Reference = {
    val g = Pipeline.run(pages, in.aliases(spark), in.sameAs(spark), in.cfg.nPages)
    // nodes, adjacency and enriched all read the triples: cached, Spark
    // computes them once (the cache is matched when each plan first runs)
    val triples = g.triples.persist(StorageLevel.MEMORY_AND_DISK)
    val linksTo = triples.filter(col("pred") === Pred.LinksTo)
      .select(col("subj"), col("obj"))
    val tables = Seq[(String, DataFrame)](
      "extracted" -> g.extracted.toDF(), "candidates" -> g.candidates.toDF(),
      "linked" -> g.linked.toDF(), "canon" -> g.canon.toDF(),
      "triples" -> triples.toDF(),
      "nodes" -> withoutRoot(g.nodes.toDF()), "adjacency" -> g.adjacency.toDF(),
      "enriched" -> Enrich.nodeEnrichment(g.extracted, linksTo),
      "ann_ivf" -> AnnOps.assignCells(Pipeline.pageTextEmbeddings(g.extracted),
        "id", "emb", Pipeline.AnnSeed, Pipeline.AnnCells, Pipeline.AnnDim))
    try tables.map { case (t, df) => (t, df.schema.fields.toSeq, Common.checksum(df)) }
    finally { triples.unpersist(); g.unpersist() }
  }

  private def withoutRoot(nodes: DataFrame) = nodes.filter(col("label") =!= Label.Project)

  /** The reference tables whose committed copy in `store` has another
    * checksum (scalar columns read back with the reference's types:
    * partition columns come back with inferred ones). */
  def storeDiffers(spark: SparkSession, store: String, ref: Reference): Seq[String] =
    ref.filter { case (t, fields, want) =>
      val stored = spark.read.parquet(s"$store/$t/data")
      val got = (if (t == "nodes") withoutRoot(stored) else stored)
        .select(fields.map { f =>
          f.dataType match {
            case _: ArrayType | _: MapType | _: StructType => col(f.name)
            case dt => col(f.name).cast(dt)
          }
        }: _*)
      Common.checksum(got) != want
    }.map(_._1)

  /** DuckDB re-derivation of the four triple predicates from a store's
    * committed extracted / linked / canon tables: the q29 oracle of
    * `SparkEntry.oracleSql`, pointed at the store layout (`__STORE__` is
    * the store's path). `run.py` compares it with the committed triples. */
  def triplesOracleSql: String = {
    val sql = SparkEntry.oracleSql("q29_kg_triples")
      .replace("'__AUX__/extracted/*.parquet'", "'__STORE__/extracted/data/*/*.parquet'")
      .replace("'__AUX__/linked/*.parquet'", "'__STORE__/linked/data/*/*.parquet'")
      .replace("'__AUX__/canon/*.parquet'", "'__STORE__/canon/data/*.parquet'")
    require(!sql.contains("__AUX__"),
      "the q29 oracle reads an intermediate this benchmark does not map to the store")
    sql
  }

  def run(spark: SparkSession, work: String, seed: Long, runSeconds: Double,
      trace: Boolean, setupS: () => Double): Result = {
    Common.writeString(s"$work/triples_oracle.sql", triplesOracleSql)
    val (in, genS) = Common.seconds(writeCorpus(spark, work, seed))
    Common.note(f"corpus written in $genS%.1f s")
    val (ref, refS) = Common.seconds(reference(spark, in, in.pages(spark)))
    Common.note(f"reference checksums from Pipeline.run in $refS%.1f s")
    val setup = setupS()
    val info = Seq("corpus_gen_s" -> f"$genS%.3f", "reference_s" -> f"$refS%.3f",
      "reference" -> ref.map { case (t, _, c) => s"$t=$c" }.mkString(" "))
    if (trace) traced(spark, work, in, ref, setup, info)
    else timed(spark, work, in, ref, runSeconds, setup, info)
  }

  /** Builds into fresh stores until `runSeconds` are spent (at least one). */
  private def timed(spark: SparkSession, work: String, in: Input, ref: Reference,
      runSeconds: Double, setup: Double, setupInfo: Seq[(String, String)]): Result = {
    // closed loop: the next build starts when the previous one finished;
    // every committed store stays for run.py's checks
    val walls = Seq.newBuilder[Double]
    val heaps = Seq.newBuilder[Double]
    val storeMb = Seq.newBuilder[Double]
    val stores = Seq.newBuilder[(String, String)]
    val errors = Seq.newBuilder[String]
    var triples = 0L
    val loop0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - loop0) / 1e9 < runSeconds) {
      val out = s"$work/store-$i"
      val heap = new HeapSampler
      heap.start()
      val built = scala.util.Try(Common.seconds(build(spark, in, out)))
      val peak = heap.stop()
      Common.note(s"build $i: ${built.map(_._2)}")
      built match {
        case scala.util.Success((_, wall)) =>
          walls += wall; heaps += peak
          storeMb += Common.dirBytes(out) / (1024.0 * 1024.0)
          triples = Snapshot.readManifest(s"$out/triples").map(_.rows).getOrElse(0L)
          stores += out -> SnapshotA
        case scala.util.Failure(e) => errors += s"build $i threw: $e"
      }
      i += 1
    }
    // outside the timing: every store committed what Pipeline.run computes
    for ((store, _) <- stores.result()) {
      val differ = storeDiffers(spark, store, ref)
      if (differ.nonEmpty)
        errors += s"${new File(store).getName}: differs from Pipeline.run in " +
          differ.mkString(",")
    }
    Common.note("store checksums checked")
    val wall = Common.median(walls.result())
    val endToEnd = Seq(
      "wall_s" -> wall,
      "setup_s" -> setup,
      "peak_heap_mb" -> Common.median(heaps.result()),
      "docs_per_s" -> Pages / wall,
      "triples_per_s" -> triples / wall,
      "store_mb" -> Common.median(storeMb.result()))
    val info = Seq("samples" -> walls.result().size.toString,
      "pages" -> Pages.toString, "buckets" -> Buckets.toString,
      "triples" -> triples.toString) ++ setupInfo
    val errs = errors.result()
    Result(i, errs.size, errs, endToEnd, info, stores.result())
  }

  /** The traced run: the traced build (after the reference, like the timed
    * one), its guard, and one traced update of a small delta on the traced
    * store.
    *
    * Trace guard, so the hand-written mirror cannot drift from what ships:
    * `Pipeline.build` re-run on the traced store with the same snapshot id
    * must resume every stage (same names, versions and manifests, nothing
    * recomputed), and every committed table must have the reference
    * checksum, as in the timed run. */
  private def traced(spark: SparkSession, work: String, in: Input, ref: Reference,
      setup: Double, setupInfo: Seq[(String, String)]): Result = {
    val store = s"$work/store-traced"
    val errors = Seq.newBuilder[String]
    val tracer = Tracer.install(spark.sparkContext)
    val heap = new HeapSampler
    heap.start()
    val (_, tracedWall) = Common.seconds(tracedBuild(spark, tracer, in, store))
    val peakHeap = heap.stop()
    Common.note(f"traced build in $tracedWall%.1f s")
    Common.drainListeners(spark)
    spark.sparkContext.removeSparkListener(tracer)
    val buildSpans = tracer.spans
    val covered = buildSpans.map(s => (s.endNs - s.startNs) / 1e9).sum
    val listenerS = tracer.busySeconds

    def manifests() = new File(store).listFiles().map(_.getName)
      .map(st => st -> Snapshot.readManifest(s"$store/$st")).toMap
    val before = manifests()
    build(spark, in, store)
    val after = manifests()
    val redone = (before.keySet ++ after.keySet).toSeq.sorted
      .filter(st => before.get(st) != after.get(st))
    if (redone.nonEmpty)
      errors += s"trace guard: Pipeline.build recomputed ${redone.mkString(",")} " +
        "over the traced build (stage name, version or layout differs)"
    val differ = storeDiffers(spark, store, ref)
    if (differ.nonEmpty)
      errors += s"trace guard: traced build differs from Pipeline.run in ${differ.mkString(",")}"
    Common.note("trace guard checked")

    // incr: one traced updateFromStored of a seeded delta on the traced store
    val upd = Update.trace(spark, tracer, in, store)
    errors ++= upd.errors

    tracer.jobSites.toSeq.sortBy(_._1).foreach { case ((l, site), n) =>
      Common.note(s"jobs $l $site: $n") }
    val layers = KgLayers.flatMap(tracer.layerMetrics)
    val rows = Seq("candidates", "linked").map(st =>
      st -> Snapshot.readManifest(s"$store/$st").map(_.rows).getOrElse(0L)).toMap
    val spanInfo = tracer.spans.map(s => s"span.${s.id}.${s.layer}.${s.name}" ->
      f"${(s.endNs - s.startNs) / 1e9}%.3f s, self ${tracer.selfSeconds(s)}%.3f s")
    val errs = errors.result()
    Result(2, errs.size, errs,
      layers ++ Seq(
        "incr.dirty_buckets" -> upd.dirtyBuckets.toDouble,
        "incr.relinked_buckets" -> upd.relinkedBuckets.toDouble,
        "incr.rewrite_ratio" -> upd.rewriteRatio,
        "link.resolve_ratio" ->
          rows("linked").toDouble / math.max(1L, rows("candidates")),
        "peak_heap_mb" -> peakHeap,
        "setup_s" -> setup,
        "trace.traced_wall_s" -> tracedWall,
        "trace.overhead_ratio" -> listenerS / tracedWall,
        "trace.uncovered_ratio" -> (tracedWall - covered) / tracedWall,
        "trace.update_wall_s" -> upd.wall),
      setupInfo ++ spanInfo, Seq(store -> SnapshotB))
  }

  /** `Pipeline.build`, re-composed from each layer's public function in
    * the same order, with the same stage names, versions and layout; one
    * span per layer call, each around the `Snapshot.stage` that commits
    * it. The trace guard compares every committed table with the shipping
    * build's, so this mirror cannot drift silently. */
  def tracedBuild(spark: SparkSession, tr: Tracer, in: Input, out: String): Unit = {
    import spark.implicits._
    val sid = SnapshotA
    val nPages = in.cfg.nPages
    val aliases = in.aliases(spark)
    def bucket(c: String) = Pipeline.bucketOf(col(c), Buckets)
    def stage(name: String, version: String, parts: String*)(
        compute: => DataFrame): DataFrame =
      Snapshot.stage(spark, out, name, sid, version, parts)(compute)

    val extracted = tr.span("extract", "Extract.run", commit = true) {
      stage("extracted", Extract.StageVersion, "bucket") {
        Extract.run(in.pages(spark)).toDF()
          .withColumn("bucket", bucket("url")).repartition(col("bucket"))
      }
    }
    def ex = extracted.drop("bucket").as[ExtractedPage]
    tr.span("incr", "urlhash", commit = true) {
      stage("urlhash", "diff-v1", "bucket") {
        extracted.select(col("url"), col("html_xxh64").as("h"), col("bucket"))
      }
    }
    val candidates = tr.span("mention", "Mention.detect", commit = true) {
      stage("candidates", "mention-v1", "bucket") {
        Mention.detect(ex, aliases).toDF()
          .withColumn("bucket", bucket("url")).repartition(col("bucket"))
      }
    }
    val aliasdf = tr.span("link", "aliasdf", commit = true) {
      stage("aliasdf", "link-v1", "bucket") {
        candidates.select(col("bucket"), col("url"), col("alias")).distinct()
          .groupBy(col("bucket"), col("alias"))
          .agg(count(lit(1)).as("df_b"))
          .repartition(col("bucket"))
      }
    }
    val linked = tr.span("link", "Link.resolve", commit = true) {
      stage("linked", "link-v1", "bucket") {
        Link.resolve(candidates.drop("bucket").as[CandidateRow], nPages,
          Some(Link.collectAliasDf(Pipeline.globalAliasDf(aliasdf)))).toDF()
          .withColumn("bucket", bucket("url")).repartition(col("bucket"))
      }
    }
    val canon = tr.span("canon", "ConnectedComponents.canonMap", commit = true) {
      stage("canon", "canon-v1") {
        val entities = aliases.map(a => java.lang.Long.valueOf(a.entity_id)).distinct()
        ConnectedComponents.canonMap(entities, in.sameAs(spark)).toDF()
      }
    }
    val lk = linked.drop("bucket").as[LinkedMention]
    val pe = Emit.pageEntitySets(lk, canon.as[CanonRow])
      .persist(StorageLevel.MEMORY_AND_DISK)
    val triples = tr.span("emit", "Emit.triples", commit = true) {
      stage("triples", Pipeline.EmitVersion, "pred", "bucket") {
        Emit.triples(ex, lk, canon.as[CanonRow], Some(pe)).toDF()
          .withColumn("bucket", bucket("subj"))
          .repartition(col("pred"), col("bucket"))
      }
    }
    pe.unpersist()
    def td = triples.select(col("subj"), col("pred"), col("obj")).as[TripleRow]
    tr.span("emit", "Emit.nodes", commit = true) {
      stage("nodes", Pipeline.EmitVersion, "label") {
        Emit.dropOrphans(Emit.nodes(ex, canon.as[CanonRow], Some(sid)), td).toDF()
      }
    }
    tr.span("emit", "Emit.adjacency", commit = true) {
      stage("adjacency", Pipeline.EmitVersion, "pred", "bucket") {
        Emit.adjacency(td).toDF()
          .withColumn("bucket", bucket("src"))
          .repartition(col("pred"), col("bucket"))
      }
    }
    tr.span("enrich", "Enrich.nodeEnrichment", commit = true) {
      stage("enriched", Pipeline.EnrichVersion, "bucket") {
        val lt = triples.filter(col("pred") === Pred.LinksTo)
          .select(col("subj"), col("obj"))
        Enrich.nodeEnrichment(ex, lt)
          .withColumn("bucket",
            when(col("label") === lit(Label.Page), bucket("node_id"))
              .otherwise(lit(-1L)))
          .repartition(col("bucket"))
      }
    }
    tr.span("ann", "AnnOps.buildIvfIndex", commit = true) {
      AnnOps.buildIvfIndex(spark, out, Pipeline.pageTextEmbeddings(ex),
        "id", "emb", sid, seed = Pipeline.AnnSeed, nCells = Pipeline.AnnCells,
        dim = Pipeline.AnnDim)
    }
  }

  /** The seeded delta of the traced update and its outcome. */
  object Update {
    final case class Outcome(errors: Seq[String], wall: Double,
        dirtyBuckets: Int, relinkedBuckets: Int, rewriteRatio: Double)

    private def bucketFiles(dir: String): Map[String, Set[String]] =
      Option(new File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("bucket="))
        .map(b => b.getName -> Option(b.list()).toSeq.flatten.toSet).toMap

    final case class Delta(pages: Dataset[PageRow], added: Set[String],
        deleted: Set[String], touched: Int)

    /** New snapshot: three pages get alias-free filler, one page gains the
      * head entity's alias (moving its document frequency), two pages are
      * deleted and two added (copies under new urls) — a few pages spread
      * over a minority of the buckets. */
    def delta(spark: SparkSession, in: Input, store: String): Delta = {
      import spark.implicits._
      val rnd = new scala.util.Random(in.cfg.seed)
      val head = Synth.primaryAlias(0L)
      val urls = spark.read.parquet(s"$store/extracted/data")
        .select(col("url"), lower(col("text")).contains(head).as("has_head"))
        .orderBy(xxhash64(col("url"), lit(in.cfg.seed)))
        .as[(String, Boolean)].collect().toSeq
      val pick = rnd.shuffle(urls.indices.toList).map(urls)
      val headPage = pick.find(!_._2).get._1
      val rest = pick.filterNot(_._1 == headPage).map(_._1)
      val filler = rest.take(3).toSet
      val deleted = rest.slice(3, 5).toSet
      val copied = rest.slice(5, 7).toSet
      val later = (ts: Timestamp) => new Timestamp(ts.getTime + 3600000L)
      def append(p: PageRow, s: String) = p.copy(warc_ts = later(p.warc_ts),
        html = new String(p.html, "UTF-8").replace("</body>", s"<p>$s</p></body>")
          .getBytes("UTF-8"))
      val pages = in.pages(spark)
      val kept = pages.filter(p => !deleted(p.url)).map { p =>
        if (filler(p.url)) append(p, "zzfiller qqfiller")
        else if (p.url == headPage) append(p, head)
        else p
      }
      val added = pages.filter(p => copied(p.url)).map(p => p.copy(url = p.url + "-copy"))
      Delta(kept.union(added), copied.map(_ + "-copy"), deleted,
        filler.size + 1 + copied.size)
    }

    def trace(spark: SparkSession, tr: Tracer, in: Input, store: String): Outcome = {
      val d = delta(spark, in, store)
      val before = bucketFiles(s"$store/linked/data")
      spark.sparkContext.addSparkListener(tr)
      val res = scala.util.Try(Common.seconds(tr.span("incr", "updateFromStored") {
        Incremental.updateFromStored(spark, d.pages, in.aliases(spark),
          in.sameAs(spark), in.cfg.nPages, store, SnapshotB, Buckets)
      }))
      Common.drainListeners(spark)
      spark.sparkContext.removeSparkListener(tr)
      res match {
        case scala.util.Failure(e) =>
          Outcome(Seq(s"update threw: $e"), 0.0, 0, 0, 0.0)
        case scala.util.Success((dirty, wall)) =>
          Common.note(f"traced update in $wall%.1f s")
          val after = bucketFiles(s"$store/linked/data")
          val relinked = (before.keySet ++ after.keySet)
            .count(b => before.get(b) != after.get(b))
          val extracted = spark.read.parquet(s"$store/extracted/data")
          val reExtracted = extracted.filter(col("bucket").isin(dirty: _*)).count()
          // the delta landed: added urls present, deleted ones gone, every
          // stage re-stamped with the new snapshot, and the store equals a
          // full rebuild of the new snapshot
          val rebuilt = storeDiffers(spark, store, reference(spark, in, d.pages))
          val urls = extracted.select(col("url"))
            .filter(col("url").isin((d.added ++ d.deleted).toSeq: _*))
            .collect().map(_.getString(0)).toSet
          val problems = Seq(
            "added pages missing from extracted" -> !d.added.subsetOf(urls),
            "deleted pages still in extracted" -> d.deleted.exists(urls),
            "a stage manifest not re-stamped" -> new File(store).listFiles()
              .flatMap(f => Snapshot.readManifest(f.getPath))
              .exists(_.snapshotId != SnapshotB),
            s"differs from a full rebuild in ${rebuilt.mkString(",")}" -> rebuilt.nonEmpty
          ).collect { case (what, true) => s"update: $what" }
          Outcome(problems, wall, dirty.size, relinked,
            d.touched.toDouble / math.max(1L, reExtracted))
      }
    }
  }
}
