package graft

import graft.operators.{PartitionConfig, PrePartition}
import graft.sources.LogDataGenerator
import org.apache.spark.sql.SparkSession

/** Console entry point — the Spark-native analogue of the reference's
  * `KustoPreForgeConsole.Program.Main`
  * (reference: code/KustoPreForgeConsole/Program.cs:26-49).
  *
  * Subcommands:
  *   generate <outDir> <nRows> [seed]                 — write headerless CSV landing data
  *   prepartition <inGlob> <outDir> <colIdx> <n> <seed> [gzip]
  *                                                    — run the PrePartition pipeline
  *   validate <stagingDir>                            — print B7-style cardinality invariants
  */
object GraftCli {
  /** Per-tenant scheduler pool for this process, set by the leading
    * `--pool=<tenant>` flag. Pools only matter when several tenants share
    * one long-lived session/cluster (2.6–3.1× serial throughput measured
    * by ConcurrencyProbe, historical (probe removed after 8bdcef0)): FAIR
    * mode stops one tenant's heavyweight stage from starving another's,
    * and each submitting thread tags its jobs with its own pool. For the
    * one-shot CLI the flag flips the session to FAIR and tags all jobs —
    * so the same binary drops into a shared SparkConnect/ThriftServer
    * deployment with per-tenant fairness.
    */
  private var schedulerPool: Option[String] = None

  /** Split the leading `--pool=<name>` flag (if any) off the arg list. */
  private[graft] def parsePoolFlag(args: List[String])
      : (Option[String], List[String]) = args match {
    case head :: rest if head.startsWith("--pool=") &&
        head.length > "--pool=".length =>
      (Some(head.substring("--pool=".length)), rest)
    case _ => (None, args)
  }

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val s = GraftSession(cpus, { b =>
      sys.env.get("SPARK_GRAFT_MASTER").foreach(b.master)
      schedulerPool.foreach(_ => b.config("spark.scheduler.mode", "FAIR"))
      b.appName("graft")
    })
    // thread-local: jobs submitted by this (main) thread land in the pool
    schedulerPool.foreach(p =>
      s.sparkContext.setLocalProperty("spark.scheduler.pool", p))
    s
  }

  def main(rawArgs: Array[String]): Unit = {
    val (pool, argList) = parsePoolFlag(rawArgs.toList)
    schedulerPool = pool
    pool.foreach(p => println(s"[graft] scheduler pool: $p (FAIR)"))
    dispatch(argList)
  }

  private def dispatch(args: List[String]): Unit = args match {
    case "generate" :: outDir :: n :: rest =>
      val spark = session()
      val seed = rest.headOption.map(_.toLong).getOrElse(42L)
      LogDataGenerator.toCsvLines(LogDataGenerator.generate(spark, n.toLong, seed))
        .write.mode("overwrite").text(outDir)
      println(s"[graft] wrote ${spark.read.text(outDir).count()} lines to $outDir")
      spark.stop()

    case "prepartition" :: inGlob :: outDir :: colIdx :: n :: seed :: rest =>
      val spark = session()
      val compression = rest.headOption // e.g. "gzip"
      PrePartition.run(spark, inGlob, outDir,
        PartitionConfig(colIdx.toInt, n.toInt, seed.toInt), compression)
      println(s"[graft] prepartitioned $inGlob -> $outDir (col=$colIdx n=$n seed=$seed)")
      spark.stop()

    case "split" :: inGlob :: outDir :: maxBytes :: rest =>
      val spark = session()
      val cfg = operators.Split.SplitConfig(
        maxBytesPerShard = maxBytes.toLong,
        hasHeader = rest.contains("header"),
        gzipOutput = rest.contains("gzip"))
      val manifest = operators.Split.run(spark, inGlob, outDir, cfg)
      operators.Split.shardCount(manifest).show(false)
      spark.stop()

    // multi-container output spread (reference round-robins staging
    // containers, Transforms/PartitionedContentSink.cs:54-66): comma-
    // separated base paths, pid -> basePaths(pid % N)/pid=<pid>/
    case "prepartition-spread" :: inGlob :: basePaths :: colIdx :: n :: seed :: rest =>
      val spark = session()
      PrePartition.runSpread(spark, inGlob, basePaths.split(',').toIndexedSeq,
        PartitionConfig(colIdx.toInt, n.toInt, seed.toInt),
        gzipOutput = rest.contains("gzip"))
      println(s"[graft] prepartitioned $inGlob -> spread over " +
        s"${basePaths.split(',').length} roots (col=$colIdx n=$n seed=$seed)")
      spark.stop()

    case "validate" :: stagingDir :: Nil =>
      val spark = session()
      PrePartition.invariants(PrePartition.validationFrame(spark, stagingDir))
        .show(false)
      spark.stop()

    // the event-driven server mode (reference: ServiceBusServer) — watch a
    // landing dir, flush partitioned output every triggerSec seconds;
    // optional runSec bounds the server lifetime (0 = run forever).
    case "stream" :: landing :: staging :: checkpoint :: colIdx :: n :: seed :: rest =>
      val spark = session()
      val triggerSec = rest.headOption.map(_.toInt).getOrElse(60)
      val runSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val q = streaming.StreamingPrePartition.start(
        spark, landing, staging, checkpoint,
        PartitionConfig(colIdx.toInt, n.toInt, seed.toInt),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(s"$triggerSec seconds"))
      println(s"[graft] streaming $landing -> $staging (trigger ${triggerSec}s)")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    // landing agent: publish blob paths to a notification queue (the
    // reference's Event Grid blob-created event -> Service Bus message)
    case "notify-publish" :: queueDir :: paths if paths.nonEmpty =>
      val spark = session()
      val seq = streaming.NotifyQueue.publish(spark, queueDir, paths)
      println(s"[graft] published ${paths.length} path(s) to $queueDir as seq $seq")
      spark.stop()

    // object-store-safe publish (S3-class stores whose rename overwrites):
    // a uniquely-named spool entry; the consuming stream must run with
    // claimMode=spool so its driver sequences the spool
    case "notify-publish-spool" :: queueDir :: paths if paths.nonEmpty =>
      val spark = session()
      val name = streaming.NotifyQueue.publishSpool(spark, queueDir, paths)
      println(s"[graft] spooled ${paths.length} path(s) to $queueDir as $name")
      spark.stop()

    // event-driven server on the notification queue: per-trigger source
    // cost is O(new notifications), not O(landing-dir history)
    case "stream-notify" :: queueDir :: staging :: checkpoint :: colIdx :: n :: seed :: rest =>
      val spark = session()
      val triggerSec = rest.headOption.map(_.toInt).getOrElse(60)
      val runSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val claimMode = rest.drop(2).headOption.getOrElse("rename")
      val q = streaming.StreamingPrePartition.startNotified(
        spark, queueDir, staging, checkpoint,
        PartitionConfig(colIdx.toInt, n.toInt, seed.toInt),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(s"$triggerSec seconds"),
        claimMode = claimMode)
      println(s"[graft] streaming notify queue $queueDir -> $staging (trigger ${triggerSec}s)")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    // the flagship LLM-corpus pipeline over a documents parquet
    // (doc_id, text, lang, ...): quality filter -> MinHash near-dup
    // removal -> per-language sequence packing; writes packed spans +
    // prints per-stream packing stats (the x15 composition, operable)
    case "corpus-prep" :: inParquet :: outDir :: rest =>
      val spark = session()
      val minTokens = rest.headOption.map(_.toInt).getOrElse(25)
      val threshold = rest.drop(1).headOption.map(_.toDouble).getOrElse(0.5)
      val capacity = rest.drop(2).headOption.map(_.toInt).getOrElse(512)
      val docs = spark.read.parquet(inParquet)
      val q = docs.filter(operators.Pack.tokenCount(
        org.apache.spark.sql.functions.col("text")) >= minTokens)
      val surv = operators.Dedup.dedupSurvivors(q, "doc_id",
        operators.Dedup.minHashLsh(q, "doc_id", "text", threshold = threshold))
      val spans = operators.Pack.packedSpans(
        surv, "doc_id", "text", "lang", capacity = capacity)
      spans.write.mode("overwrite").parquet(s"$outDir/packed_spans")
      operators.Pack.packingStats(
        spark.read.parquet(s"$outDir/packed_spans"), "lang", capacity).show(false)
      println(s"[graft] corpus-prep $inParquet -> $outDir " +
        s"(minTokens=$minTokens threshold=$threshold capacity=$capacity)")
      spark.stop()

    // the FULL training-run preparation in one command — what a user
    // actually runs before a pretraining job: quality gate → MinHash
    // near-dup survivors → benchmark decontamination (bloom-prefiltered)
    // → deterministic train/val split → source-balanced interleave rank
    // → context-window packing of train → manifest with per-stage and
    // per-source counts. Every stage is one of the gated operators; the
    // composition itself is spec-pinned (Round11OpsSpec invariants).
    case "prepare-run" :: docsParquet :: benchParquet :: outDir :: rest =>
      val spark = session()
      val minTokens = rest.headOption.map(_.toInt).getOrElse(25)
      val threshold = rest.drop(1).headOption.map(_.toDouble).getOrElse(0.5)
      val capacity = rest.drop(2).headOption.map(_.toInt).getOrElse(512)
      val valPct = rest.drop(3).headOption.map(_.toInt).getOrElse(5)
      val semTau = rest.drop(4).headOption.map(_.toDouble)
        .getOrElse(Double.NaN)
      operators.PrepareRun.run(spark,
          spark.read.parquet(docsParquet),
          spark.read.parquet(benchParquet),
          outDir, minTokens, threshold, capacity, valPct, semTau)
        .foreach { case (st, c) => println(s"[graft] prepare-run $st: $c") }
      spark.stop()

    case "prepare-run-wave" :: waveParquet :: outDir :: waveIdStr :: Nil =>
      val spark = session()
      operators.PrepareRun.runWave(spark,
          spark.read.parquet(waveParquet), outDir, waveIdStr.toInt)
        .foreach { case (st, c) =>
          println(s"[graft] prepare-run wave $waveIdStr $st: $c") }
      spark.stop()

    // fold committed wave=N dirs into a fresh wave=0 base per table
    // (the small-file maintenance pass, under the marker protocol)
    case "prepare-run-compact" :: outDir :: rest =>
      val spark = session()
      val target = rest.headOption.map(_.toLong)
        .getOrElse(128L * 1024 * 1024)
      operators.PrepareRun.compactRun(spark, outDir, target)
        .foreach { case (t, (b, a)) =>
          println(s"[graft] prepare-run-compact $t: $b -> $a files") }
      spark.stop()

    // per-ingest-wave delta dedup: report near-dups of the new batch
    // against the standing corpus (cross pairs only)
    case "dedup-delta" :: corpusParquet :: batchParquet :: outDir :: rest =>
      val spark = session()
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.5)
      val pairs = operators.Dedup.incrementalNearDup(
        spark.read.parquet(corpusParquet), spark.read.parquet(batchParquet),
        "doc_id", "text", threshold = threshold)
      pairs.write.mode("overwrite").parquet(s"$outDir/delta_pairs")
      val n = spark.read.parquet(s"$outDir/delta_pairs").count()
      println(s"[graft] dedup-delta $batchParquet vs $corpusParquet: " +
        s"$n cross near-dup pairs (threshold=$threshold) -> $outDir/delta_pairs")
      spark.stop()

    // benchmark decontamination: drop training docs sharing an n-gram
    // with the benchmark set; `bloom` routes through the broadcast-bloom
    // prefilter (identical result, corpus-scale shuffle volume)
    case "decontaminate" :: trainParquet :: benchParquet :: outDir :: rest =>
      val spark = session()
      val n = rest.filter(_.forall(_.isDigit)).headOption.map(_.toInt).getOrElse(8)
      val train = spark.read.parquet(trainParquet)
      val bench = spark.read.parquet(benchParquet)
      val clean =
        if (rest.contains("bloom"))
          operators.Contamination.decontaminateBloom(train, bench, "doc_id", "text", n)
        else operators.Contamination.decontaminate(train, bench, "doc_id", "text", n)
      clean.write.mode("overwrite").parquet(s"$outDir/clean")
      println(s"[graft] decontaminate: ${spark.read.parquet(s"$outDir/clean").count()} " +
        s"of ${train.count()} docs survive (n=$n, bloom=${rest.contains("bloom")})")
      spark.stop()

    // Z-order layout write: cluster a parquet table on the Morton
    // interleave of two (numeric, pre-bucketed to 16 bits) columns so
    // row-group min/max stats prune scans on BOTH dimensions
    case "zorder-write" :: inParquet :: outDir :: colA :: colB :: rest =>
      val spark = session()
      import org.apache.spark.sql.functions.col
      // driver testdata stores ns timestamps; read them as longs rather
      // than refuse the file (same accommodation as QueryDef.t)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val parts = rest.headOption.map(_.toInt).getOrElse(0)
      operators.Layout.zorderBy(spark.read.parquet(inParquet),
          col(colA), col(colB), parts)
        .drop("zkey")
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] zorder-write $inParquet -> $outDir (dims $colA, $colB)")
      spark.stop()

    // link-analysis over an (src, dst) parquet edge list: damped
    // PageRank ranks written as (node, r) integer rank units
    case "graph-pagerank" :: edgesParquet :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val iters = rest.headOption.map(_.toInt).getOrElse(10)
      val tol = rest.lift(1).map(_.toLong).getOrElse(0L)
      val dangling = rest.lift(2).contains("dangling")
      operators.Graph.pagerank(spark.read.parquet(edgesParquet), iters,
          tolUnits = tol, redistributeDangling = dangling)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] graph-pagerank $edgesParquet -> $outDir " +
        s"($iters iters max, tol=$tol, dangling=$dangling)")
      spark.stop()

    // seeded relevance: personalized PageRank from a (seed) parquet
    case "graph-ppr" :: edgesParquet :: seedsParquet :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val iters = rest.headOption.map(_.toInt).getOrElse(10)
      operators.Graph.personalizedPagerank(
          spark.read.parquet(edgesParquet),
          spark.read.parquet(seedsParquet), iters)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] graph-ppr $edgesParquet seeds=$seedsParquet -> $outDir ($iters iters)")
      spark.stop()

    // dense-core extraction: peel nodes of degree < k to the fixpoint
    case "graph-kcore" :: edgesParquet :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val k = rest.headOption.map(_.toInt).getOrElse(4)
      operators.Graph.kcore(spark.read.parquet(edgesParquet), k)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] graph-kcore $edgesParquet -> $outDir (k=$k)")
      spark.stop()

    // HITS hub/authority scoring over a directed (src, dst) edge list
    case "graph-hits" :: edgesParquet :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val iters = rest.headOption.map(_.toInt).getOrElse(10)
      operators.Graph.hits(spark.read.parquet(edgesParquet), iters)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] graph-hits $edgesParquet -> $outDir ($iters iters)")
      spark.stop()

    // seed expansion: BFS hop labels within maxDepth of a (source) parquet
    case "graph-bfs" :: edgesParquet :: seedsParquet :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val depth = rest.headOption.map(_.toInt).getOrElse(3)
      operators.Graph.bfs(spark.read.parquet(edgesParquet),
          spark.read.parquet(seedsParquet), depth)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] graph-bfs $edgesParquet seeds=$seedsParquet -> $outDir (depth<=$depth)")
      spark.stop()

    // connected components over a (src, dst) edge list (bidirected
    // internally: CLI callers hand an undirected relation)
    case "graph-components" :: edgesParquet :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val maxRounds = rest.headOption.map(_.toInt).getOrElse(64)
      import org.apache.spark.sql.functions.{array, col, explode, struct}
      val e = spark.read.parquet(edgesParquet)
      val bidirected = e.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select("e.src", "e.dst")
      operators.Graph.connectedComponents(bidirected, maxRounds)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] graph-components $edgesParquet -> $outDir")
      spark.stop()

    // multi-source weighted shortest paths over (src, dst, w)
    case "graph-sssp" :: edgesParquet :: seedsParquet :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val maxRounds = rest.headOption.map(_.toInt).getOrElse(64)
      operators.Graph.shortestPaths(spark.read.parquet(edgesParquet),
          spark.read.parquet(seedsParquet), maxRounds)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] graph-sssp $edgesParquet seeds=$seedsParquet -> $outDir (rounds<=$maxRounds)")
      spark.stop()

    // manifest maintenance: dedupe + rewrite segments, optional retention
    case "manifest-compact" :: shardDir :: rest =>
      val spark = session()
      val retainDays = rest.headOption.map(_.toLong)
      val retainMs = retainDays.map(_ * 86400L * 1000L).getOrElse(Long.MaxValue)
      val (before, after) = operators.Split.compactManifest(spark, shardDir, retainMs)
      println(s"[graft] manifest-compact $shardDir: $before -> $after segments" +
        retainDays.map(d => s" (retained last $d days)").getOrElse(""))
      spark.stop()

    // per-node triangle counts over an undirected (src, dst) edge list
    case "graph-triangles" :: edgesParquet :: outDir :: Nil =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      operators.Graph.triangles(spark.read.parquet(edgesParquet))
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] graph-triangles $edgesParquet -> $outDir")
      spark.stop()

    // flatten a (node, parent) forest to (node, root, depth)
    case "graph-ancestors" :: parentsParquet :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val parents = spark.read.parquet(parentsParquet)
      // explicit rounds override; default derives ceil(log2(n)) from the data
      val flat = rest.headOption.map(_.toInt)
        .map(operators.Graph.rootsAndDepth(parents, _))
        .getOrElse(operators.Graph.rootsAndDepth(parents))
      flat.write.mode("overwrite").parquet(outDir)
      println(s"[graft] graph-ancestors $parentsParquet -> $outDir" +
        rest.headOption.map(r => s" ($r rounds)").getOrElse(" (derived rounds)"))
      spark.stop()

    // small-files maintenance: rewrite a parquet dir to ~targetMB files,
    // optionally range-sorted so footer min/max pruning survives
    case "compact" :: inDir :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val targetMb = rest.headOption.map(_.toLong).getOrElse(128L)
      val sortCols = rest.drop(1).headOption
        .map(_.split(",").toSeq).getOrElse(Nil)
      val n = operators.Layout.compact(spark, inDir, outDir,
        targetMb * 1024 * 1024, sortCols)
      println(s"[graft] compact $inDir -> $outDir ($n files, " +
        s"target ${targetMb}MB${if (sortCols.nonEmpty) s", sorted by ${sortCols.mkString(",")}" else ""})")
      spark.stop()

    // build the standing dedup index once (offline): (id, shingles,
    // MinHash signature) parquet every delta-dedup server loads at startup
    case "dedup-index-build" :: docsParquet :: indexDir :: Nil =>
      val spark = session()
      operators.Dedup.writeIndex(
        spark.read.parquet(docsParquet), "doc_id", "text", indexDir)
      println(s"[graft] dedup index: $docsParquet -> $indexDir " +
        s"(${spark.read.parquet(indexDir).count()} docs)")
      spark.stop()

    // build a persisted IVF ANN index: inverted lists as list_id-
    // partitioned parquet + a centroids side table
    // append an embedding wave to a persisted IVF index (frozen centroids)
    case "ann-index-append" :: embParquet :: indexDir :: Nil =>
      val spark = session()
      val drift = operators.Similarity.appendIvfIndex(
        spark.read.parquet(embParquet), indexDir)
      println(s"[graft] ivf append: $embParquet -> $indexDir")
      drift.foreach { d =>
        println(s"[graft] drift: n=${d.nBatch} kl_micro=${d.klMicro} " +
          s"retrain=${d.retrain}")
      }
      spark.stop()

    case "prepare-run-sync-ann" :: outDir :: indexDir :: rest =>
      // incremental ANN-index sync against the run's committed waves
      // (builds on first call; appends only new waves; x84-gated retrain)
      val spark = session()
      val nlist = rest.headOption.map(_.toInt).getOrElse(16)
      val trainIters = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val m = operators.PrepareRun.syncAnnIndex(
        spark, outDir, indexDir, nlist, trainIters)
      println(s"[graft] ann sync: $outDir -> $indexDir " +
        m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
      spark.stop()

    case "ann-index-build" :: embParquet :: indexDir :: rest =>
      val spark = session()
      val nlist = rest.headOption.map(_.toInt).getOrElse(16)
      // trainIters > 0 runs Lloyd refinement before the layout write —
      // the x68 gate measures what that buys (panel recall 13/40 -> 22/40
      // at one round on the bench fixture)
      val trainIters = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      operators.Similarity.writeIvfIndex(
        spark.read.parquet(embParquet), indexDir, nlist, trainIters)
      println(s"[graft] ivf index: $embParquet -> $indexDir " +
        s"(nlist=$nlist trainIters=$trainIters)")
      spark.stop()

    // binary (sign-bit) index: 16-byte-row codes table for the Hamming
    // prefilter scan, full vectors read only for the rerank survivors
    case "ann-binary-build" :: embParquet :: indexDir :: Nil =>
      val spark = session()
      operators.Similarity.writeBinaryIndex(
        spark.read.parquet(embParquet), indexDir)
      println(s"[graft] binary index: $embParquet -> $indexDir")
      spark.stop()

    case "ann-binary-append" :: embParquet :: indexDir :: Nil =>
      val spark = session()
      operators.Similarity.appendBinaryIndex(
        spark.read.parquet(embParquet), indexDir)
      println(s"[graft] binary append: $embParquet -> $indexDir")
      spark.stop()

    case "ann-compact" :: indexDir :: rest =>
      val spark = session()
      val targetBytes = rest.headOption.map(_.toLong)
        .getOrElse(128L * 1024 * 1024)
      val report = operators.Similarity.compactIndex(
        spark, indexDir, targetBytes)
      report.foreach { case (tbl, (before, after)) =>
        println(s"[graft] ann-compact $tbl: $before -> $after files")
      }
      if (report.isEmpty)
        println(s"[graft] ann-compact: no index tables under $indexDir")
      spark.stop()

    case "ann-binary-query" :: indexDir :: embParquet :: qidStr :: rest =>
      val spark = session()
      import org.apache.spark.sql.functions.col
      val k = rest.headOption.map(_.toInt).getOrElse(5)
      val prefilter = rest.drop(1).headOption.map(_.toInt).getOrElse(40)
      val q = spark.read.parquet(embParquet)
        .filter(col("vec_id") === qidStr.toLong)
        .select(col("embedding").as("q_embedding"))
      operators.Similarity
        .binaryIndexTopK(spark, indexDir, q, k, prefilter)
        .show(k, false)
      spark.stop()

    // IVF+PQ index: lists carry 8-byte PQ codes next to the vectors, so
    // the query's ADC shortlist scan column-prunes to ~8 B/vector
    case "ann-index-build-pq" :: embParquet :: indexDir :: rest =>
      val spark = session()
      val nlist = rest.headOption.map(_.toInt).getOrElse(8)
      val nSub = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
      val trainIters = rest.drop(2).headOption.map(_.toInt).getOrElse(0)
      operators.Similarity.writeIvfPqIndex(
        spark.read.parquet(embParquet), indexDir, nlist, nSub,
        trainIters = trainIters)
      println(s"[graft] ivf+pq index: $embParquet -> $indexDir " +
        s"(nlist=$nlist nSub=$nSub trainIters=$trainIters)")
      spark.stop()

    case "ann-index-append-pq" :: embParquet :: indexDir :: Nil =>
      // wave append under BOTH frozen quantizers (coarse centroids and
      // PQ codebook); prints the x84 drift report
      val spark = session()
      val rep = operators.Similarity.appendIvfPqIndex(
        spark.read.parquet(embParquet), indexDir)
      println(s"[graft] ivf+pq append: $embParquet -> $indexDir " +
        rep.map(r => s"(n=${r.nBatch} kl_micro=${r.klMicro} " +
          s"retrain=${r.retrain})").getOrElse("(no build_dist)"))
      spark.stop()

    case "ann-query-pq" :: indexDir :: embParquet :: vecId :: k :: rest =>
      val spark = session()
      import org.apache.spark.sql.functions.col
      val nprobe = rest.headOption.map(_.toInt).getOrElse(4)
      val query = spark.read.parquet(embParquet)
        .filter(col("vec_id") === vecId.toLong)
        .select(col("embedding").as("q_embedding"))
      operators.Similarity.ivfPqIndexTopK(spark, indexDir, query, k.toInt, nprobe)
        .show(false)
      spark.stop()

    // top-k query against a persisted IVF index; the query vector is
    // fetched by id from an embeddings parquet
    case "ann-query" :: indexDir :: embParquet :: vecId :: k :: rest =>
      val spark = session()
      import org.apache.spark.sql.functions.col
      val nprobe = rest.headOption.map(_.toInt).getOrElse(4)
      val query = spark.read.parquet(embParquet)
        .filter(col("vec_id") === vecId.toLong)
        .select(col("embedding").as("q_embedding"))
      operators.Similarity.ivfIndexTopK(spark, indexDir, query, k.toInt, nprobe)
        .show(false)
      spark.stop()

    // streaming delta dedup server: flag near-dups of each landing
    // micro-batch against the standing corpus. The corpus argument is
    // either raw documents parquet (sketched at startup) or a
    // `dedup-index-build` output (detected by its `sig` column — loaded,
    // never re-sketched).
    // continuous latest-per-key materialized view over a parquet landing
    // stream (schema inferred from the first landed file)
    case "stream-upsert" :: landingDir :: tableDir :: checkpoint :: keyCol :: tsCol :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val nBuckets = rest.headOption.map(_.toInt).getOrElse(64)
      val runSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val schema = spark.read.parquet(landingDir).schema
      val stream = spark.readStream.schema(schema).parquet(landingDir)
      val q = streaming.StreamingAnalytics.upsertLatest(
        stream, keyCol, tsCol, tableDir, checkpoint, nBuckets)
      println(s"[graft] upsert server on $landingDir -> $tableDir " +
        s"(key=$keyCol ts=$tsCol buckets=$nBuckets)")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()

    // exactly-once corpus append: landing docs dedup exactly (content
    // hash) against the persisted corpus table, novel rows append
    case "stream-append-unique" :: landingDir :: tableDir :: checkpoint :: rest =>
      val spark = session()
      val nBuckets = rest.headOption.map(_.toInt).getOrElse(64)
      val runSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = spark.readStream.schema(docSchema).parquet(landingDir)
      val q = streaming.StreamingAnalytics.appendUnique(
        stream, "text", "doc_id", tableDir, checkpoint, nBuckets)
      println(s"[graft] append-unique server on $landingDir -> $tableDir " +
        s"(buckets=$nBuckets)")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    // streaming quality gate: docs landing as parquet route to pass /
    // quarantine per-batch dirs (idempotent overwrite on replay)
    case "stream-quality-route" :: landingDir :: passDir :: quarDir :: checkpoint :: rest =>
      val spark = session()
      val minWords = rest.headOption.map(_.toInt).getOrElse(5)
      val runSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = spark.readStream.schema(docSchema).parquet(landingDir)
      val q = streaming.StreamingAnalytics.qualityRoute(
        stream, passDir, quarDir, checkpoint, minWords = minWords)
      println(s"[graft] quality-route server on $landingDir -> " +
        s"$passDir | $quarDir (minWords=$minWords)")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    case "stream-dedup-delta" :: corpusParquet :: landingDir :: outDir :: checkpoint :: rest =>
      val spark = session()
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.5)
      val runSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val corpus = spark.read.parquet(corpusParquet)
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val isIndex = corpus.columns.contains("sig")
      val stream = spark.readStream
        .schema(if (isIndex) docSchema else corpus.schema)
        .parquet(landingDir)
      val q =
        if (isIndex) streaming.StreamingAnalytics.nearDupIngestIndexed(
          stream, corpus, "doc_id", "text", outDir, checkpoint, threshold)
        else streaming.StreamingAnalytics.nearDupIngest(
          stream, corpus, "doc_id", "text", outDir, checkpoint, threshold)
      println(s"[graft] delta-dedup server on $landingDir vs $corpusParquet " +
        s"(index=$isIndex) -> $outDir")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    // streaming semantic-dedup tripwire: flag landing embeddings that
    // are semantic dups of the committed corpus (PrepareRun's persisted
    // clustering state) — flags only; runWave is what extends the corpus
    case "stream-semantic-dedup" :: prepDir :: landingDir :: outDir ::
        checkpoint :: rest =>
      val spark = session()
      // tau defaults to the COMMITTED run's knob (params-from-markers:
      // a tripwire silently flagging at a different threshold than the
      // corpus was built with would under/over-flag vs runWave)
      val tau = rest.headOption.map(_.toDouble)
        .orElse(operators.PrepareRun.semanticTauOf(spark, prepDir))
        .getOrElse(0.4)
      val runSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val cents = spark.read.parquet(s"$prepDir/semantic_centroids")
        .orderBy("cluster").select("centroid").collect()
        .map(_.getSeq[Float](0).toArray)
      val reps = spark.read.parquet(s"$prepDir/semantic_reps")
      val embSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      val stream = spark.readStream.schema(embSchema).parquet(landingDir)
      val q = streaming.StreamingAnalytics.semanticDedupIngest(
        stream, cents, reps, "doc_id", outDir, checkpoint, tau = tau)
      println(s"[graft] semantic-dedup server on $landingDir vs $prepDir " +
        s"(k=${cents.length}, tau=$tau) -> $outDir")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    // streaming per-source distinct-cardinality monitor: 256 bytes of
    // HLL register state per source (StreamingAnalytics.streamingDistinct,
    // the d48 register semantics), estimates appended per micro-batch —
    // the "is this feed suddenly all duplicates" tripwire
    case "stream-distinct" :: landingDir :: outDir :: checkpoint :: rest =>
      val spark = session()
      import spark.implicits._
      val runSec = rest.headOption.map(_.toInt).getOrElse(0)
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val toks = spark.readStream.schema(docSchema).parquet(landingDir)
        .select(org.apache.spark.sql.functions.col("source"),
          org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.split(
              org.apache.spark.sql.functions.trim(
                org.apache.spark.sql.functions.col("text")), "\\s+"))
            .as("token"))
        .as[streaming.StreamingAnalytics.SrcTok]
      val q = streaming.StreamingAnalytics.streamingDistinct(toks)
        .writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .start()
      println(s"[graft] stream-distinct server on $landingDir -> $outDir")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    // event-driven Split server (the reference's EtlAction=Split on queue
    // events): split each notified blob into size-bounded shards
    case "stream-notify-split" :: queueDir :: outDir :: checkpoint :: maxBytes :: rest =>
      val spark = session()
      val flags = rest.filter(r => r == "header" || r == "gzip")
      val nums = rest.filterNot(flags.contains)
      val triggerSec = nums.headOption.map(_.toInt).getOrElse(60)
      val runSec = nums.drop(1).headOption.map(_.toInt).getOrElse(0)
      val q = streaming.StreamingPrePartition.startNotifiedSplit(
        spark, queueDir, outDir, checkpoint,
        operators.Split.SplitConfig(
          maxBytesPerShard = maxBytes.toLong,
          hasHeader = flags.contains("header"),
          gzipOutput = flags.contains("gzip")),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(s"$triggerSec seconds"))
      println(s"[graft] split server on $queueDir -> $outDir (trigger ${triggerSec}s)")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    // streaming as-of enrichment server: join each landing micro-batch
    // of (key, at, ...) events against a static reference table through
    // the native as-of operator; schema for the stream comes from a
    // sample parquet in the landing dir
    case "stream-asof" :: refParquet :: landingDir :: outDir :: checkpoint :: key :: time :: valueCols :: rest =>
      val spark = session()
      val runSec = rest.headOption.map(_.toInt).getOrElse(0)
      val direction = rest.drop(1).headOption.getOrElse("backward")
      val tolerance = rest.drop(2).headOption.map(_.toLong).getOrElse(-1L)
      val reference = spark.read.parquet(refParquet)
      val stream = spark.readStream
        .schema(spark.read.parquet(landingDir).schema)
        .parquet(landingDir)
      val q = streaming.StreamingAnalytics.asofEnrich(
        stream, reference, key, time, valueCols.split(",").toSeq,
        outDir, checkpoint, direction, tolerance)
      println(s"[graft] asof-enrich server on $landingDir vs $refParquet -> $outDir")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    // exact heavy hitters over a text column via the Misra-Gries
    // sketch-then-recount pipeline (shuffles k counters per partition,
    // never the token stream)
    case "heavy-hitters" :: docsParquet :: rest =>
      val spark = session()
      import org.apache.spark.sql.functions._
      val k = rest.headOption.map(_.toInt).getOrElse(256)
      val toks = spark.read.parquet(docsParquet)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val Array(row) = toks.agg(count(lit(1)).as("n"),
        functions.AggFunctions.misraGries(col("token"), k).as("c")).collect()
      val (n, cands) = (row.getLong(0), row.getSeq[String](1))
      toks.filter(col("token").isin(cands: _*))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * (k + 1) > n)
        .orderBy(col("cnt").desc, col("token"))
        .show(50, false)
      spark.stop()

    // train k-means centroids and write (vec_id, cluster) assignments
    case "kmeans" :: embParquet :: outDir :: rest =>
      val spark = session()
      import org.apache.spark.sql.functions._
      val k = rest.headOption.map(_.toInt).getOrElse(16)
      val iters = rest.drop(1).headOption.map(_.toInt).getOrElse(3)
      val e = spark.read.parquet(embParquet)
      val cents = operators.Similarity.kmeansCentroids(e, k, iters)
      val sims = array(cents.map(c =>
        functions.VectorFunctions.vecCosine(col("embedding"),
          array(c.map(lit(_)).toSeq: _*))).toSeq: _*)
      e.withColumn("cluster",
          array_position(sims, array_max(sims)).cast("long") - 1)
        .select("vec_id", "cluster")
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] kmeans k=$k iters=$iters: $embParquet -> $outDir")
      spark.stop()

    // one-pass column profile of any parquet table (string-typed view)
    case "profile" :: inParquet :: Nil =>
      val spark = session()
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(inParquet)
      val pairs = df.columns
        .map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
      df.select(expr(
          s"stack(${df.columns.length}, $pairs) AS (col_name, value)"))
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col("value")).as("n_distinct"),
          min(col("value")).as("min_val"), max(col("value")).as("max_val"))
        .orderBy("col_name")
        .show(100, false)
      spark.stop()

    // cut documents into overlapping token-window chunks (RAG prep)
    // JSONL training-data export (one JSON object per line, optional
    // gzip + byte-bounded shards)
    case "export-jsonl" :: inParquet :: outDir :: rest =>
      val spark = session()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tokens are positional-agnostic: a numeric token is the MB limit,
      // a literal "gzip" enables compression — so `export-jsonl in out gzip`
      // works without a limit (the documented usage)
      val limitMb = rest.find(t => t.nonEmpty && t.forall(_.isDigit)).map(_.toLong)
      val gz = rest.contains("gzip")
      operators.Export.toJsonl(spark.read.parquet(inParquet), outDir,
        compressed = gz, sizeLimitBytes = limitMb.map(_ * 1024 * 1024))
      println(s"[graft] export-jsonl $inParquet -> $outDir" +
        limitMb.map(m => s" (limit ${m}MB)").getOrElse("") +
        (if (gz) " gzip" else ""))
      spark.stop()

    case "chunk" :: docsParquet :: outDir :: rest =>
      val spark = session()
      import org.apache.spark.sql.functions._
      val sz = rest.headOption.map(_.toInt).getOrElse(64)
      val stride = rest.drop(1).headOption.map(_.toInt).getOrElse(sz / 2)
      spark.read.parquet(docsParquet)
        .withColumn("t", split(trim(col("text")), "\\s+"))
        .withColumn("n_chunks",
          ceil(size(col("t")) / lit(stride.toDouble)).cast("int"))
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), col("n_chunks") - 1),
            c => array_join(slice(col("t"), c * stride + 1, lit(sz)), " "))))
        .filter(length(col("col")) > 0)
        .select(col("doc_id"), col("pos").as("chunk_id"),
          col("col").as("chunk_text"))
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] chunks size=$sz stride=$stride: $docsParquet -> $outDir")
      spark.stop()

    case "avro-scan" :: glob :: outDir :: Nil =>
      val spark = session()
      graft.sources.AvroContainer.avroRows(spark, glob)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] avro-scan: $glob -> $outDir")
      spark.stop()

    case "cdx-scan" :: glob :: outDir :: Nil =>
      // parse CDXJ crawl-index shards (plain or .gz) into a manifest
      val spark = session()
      graft.sources.CdxSource.cdxFiles(spark, glob)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] cdx-scan: $glob -> $outDir")
      spark.stop()

    case "cdx-fetch" :: cdxGlob :: warcDir :: outDir :: Nil =>
      // selective refetch: decode ONLY the records the index points at —
      // one seek + one gzip member per row, archives never walked
      val spark = session()
      graft.sources.CdxSource.fetchByIndex(spark, warcDir,
          graft.sources.CdxSource.cdxFiles(spark, cdxGlob))
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] cdx-fetch: $cdxGlob over $warcDir -> $outDir")
      spark.stop()

    case "warc-index" :: glob :: outDir :: rest =>
      // GENERATE the CDX index of .warc(.gz) archives: one streaming
      // task per archive (measured member/record boundaries), then ONE
      // exchange sorting pointer-sized rows into the globally
      // SURT-ordered shard form that cdx-scan / cdx-fetch consume.
      // `relative-to=<dir>` keeps wave-qualified paths for nested
      // layouts (the streaming export's wave=N dirs repeat basenames)
      val spark = session()
      import spark.implicits._
      val relTo = rest.collectFirst {
        case a if a.startsWith("relative-to=") =>
          a.stripPrefix("relative-to=")
      }.orNull
      // persist: the sorted write AND the damage count read one parsed
      // pass instead of re-walking every archive (r18 review); the
      // cached rows are pointer-sized, never archive bytes
      val rows = graft.sources.CdxSource.warcIndexFiles(spark, glob,
          relativeTo = relTo)
        .persist()
      rows.filter(org.apache.spark.sql.functions.col("surt").isNotNull)
        .orderBy("surt", "timestamp")
        .as[(String, String, String, String, Int, String, Long, Long, String)]
        .map { case (s1, ts, u, m, st, d, l, o, f) =>
          graft.sources.CdxSource.renderLine(
            graft.sources.CdxSource.CdxEntry(s1, ts, u, m, st, d, l, o, f))
        }
        .write.mode("overwrite").text(outDir)
      val bad = rows.filter(
        org.apache.spark.sql.functions.col("surt").isNull).count()
      rows.unpersist()
      println(s"[graft] warc-index: $glob -> $outDir" +
        (if (bad > 0) s" ($bad damaged archives poisoned)" else ""))
      spark.stop()

    case "cdx-cluster" :: cdxGlob :: outDir :: rest =>
      // zipnum build: sorted .cdx shards -> <name>.zn gzip blocks +
      // <name>.idx cluster indexes (one task per shard, O(block) memory)
      val spark = session()
      val bs = rest.headOption.map(_.toInt).getOrElse(3000)
      val n = graft.sources.CdxSource.writeZipnumFiles(
        spark, cdxGlob, outDir, bs)
      println(s"[graft] cdx-cluster: $cdxGlob -> $outDir ($n shards)")
      spark.stop()

    case "cdx-lookup" :: clusterDir :: url :: Nil =>
      // point lookup: binary-search the cluster indexes, inflate ONE
      // block per candidate shard, print the matching entries
      val spark = session()
      val hits = graft.sources.CdxSource.zipnumLookupDir(
        spark, clusterDir, url)
      if (hits.isEmpty) println(s"[graft] cdx-lookup: no captures of $url")
      else hits.sortBy(_.timestamp).foreach { e =>
        println(s"[graft] ${e.timestamp} ${e.url} ${e.status} " +
          s"${e.filename}@${e.offset}+${e.length}")
      }
      spark.stop()

    case "resolve-revisits" :: warcGlob :: warcDir :: outDir :: Nil =>
      // cross-archive dedup bridge: revisit records join the GENERATED
      // index on payload digest, originals fetch by pointer — pages
      // recovered without refetching the live site
      val spark = session()
      import org.apache.spark.sql.functions.col
      val out = graft.sources.CdxSource.resolveRevisits(spark, warcDir,
        graft.sources.WarcSource.warcRevisits(spark, warcGlob),
        graft.sources.CdxSource.warcIndexFiles(spark, warcGlob))
      out.write.mode("overwrite").parquet(outDir)
      val unresolved = spark.read.parquet(outDir)
        .filter(col("resolved_from").isNull).count()
      println(s"[graft] resolve-revisits: $warcGlob -> $outDir" +
        (if (unresolved > 0) s" ($unresolved unresolved)" else ""))
      spark.stop()

    case "wat-demo" :: docsParquet :: outDir :: Nil =>
      // materialize Common-Crawl-shaped .warc.wat[.gz] metadata fixtures
      val spark = session()
      new java.io.File(outDir).mkdirs()
      graft.sources.WatSource.synthesizeWat(
          spark, spark.read.parquet(docsParquet))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach { r =>
            val id = r.getLong(0)
            val ext = if (id % 2 == 0) "warc.wat.gz" else "warc.wat"
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"d$id.$ext"),
              r.getAs[Array[Byte]](1))
          }
        }
      println(s"[graft] wat-demo: $docsParquet -> $outDir")
      spark.stop()

    case "wat-scan" :: glob :: outDir :: Nil =>
      // metadata envelopes (uri/title/links/status) per capture
      val spark = session()
      graft.sources.WatSource.watFiles(spark, glob)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] wat-scan: $glob -> $outDir")
      spark.stop()

    case "corpus-from-cdx" :: cdxGlob :: warcDir :: outDir :: Nil =>
      // index-driven corpus build: admit from the INDEX (status 200,
      // text/html), fetch one member per admitted row, land in the
      // documents-table shape — archives are never scanned
      val spark = session()
      graft.sources.CdxSource.corpusFromCdx(spark, warcDir,
          graft.sources.CdxSource.cdxFiles(spark, cdxGlob))
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] corpus-from-cdx: $cdxGlob over $warcDir -> $outDir")
      spark.stop()

    case "cdx-demo" :: docsParquet :: outDir :: Nil =>
      // materialize .warc[.gz] fixtures WITH their measured CDX index
      val spark = session()
      new java.io.File(outDir).mkdirs()
      spark.read.parquet(docsParquet)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
        .collect().foreach { r =>
          val id = r.getLong(0); val text = r.getString(1)
          val ext = if (id % 2 == 0) "warc.gz" else "warc"
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"d$id.$ext"),
            graft.sources.WarcSource.warcOf(id, text))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"d$id.cdx"),
            graft.sources.CdxSource.cdxOf(id, text).getBytes("UTF-8"))
        }
      println(s"[graft] cdx-demo: $docsParquet -> $outDir")
      spark.stop()

    // crawl -> corpus bridge: extracted 200-status pages become rows in
    // the documents-table shape (doc_id, text, lang, source, n_chars),
    // so corpus-prep / prepare-run consume a crawl unchanged. Stable ids
    // from the URI hash; identical re-fetches collapse here, NEAR-dups
    // are downstream dedup's job.
    case "corpus-from-warc" :: glob :: outDir :: rest =>
      val spark = session()
      val lenient = !rest.contains("strict")
      val mainContent = rest.contains("main") // x106 link-density extractor
      // ONE archive walk serves both the corpus write and the degrade
      // report (r18 review: an uncached second warcFiles pass re-decoded
      // the whole glob just to count reasons); strict mode has no second
      // consumer, so it skips the cache entirely
      val pages0 = graft.sources.WarcSource
        .warcFiles(spark, glob, lenient, mainContent)
      val pages = if (lenient) pages0.persist() else pages0
      graft.sources.WarcSource.crawlDocsFrom(spark, pages)
        .write.mode("overwrite").parquet(outDir)
      // honest degrade accounting: pages the lenient walk kept as
      // envelopes but could not give a body (coding:br is the big
      // real-crawl population) are REPORTED per reason, never silent
      if (lenient) {
        val byReason = pages
          .filter(org.apache.spark.sql.functions.col("degraded").isNotNull)
          .groupBy("degraded").count()
          .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
        if (byReason.nonEmpty)
          println(s"[graft] corpus-from-warc degraded: " +
            byReason.sorted.mkString(", "))
      }
      pages.unpersist()
      println(s"[graft] corpus-from-warc: $glob -> $outDir" +
        (if (mainContent) " (main-content)" else ""))
      spark.stop()

    case "corpus-from-warc-resolved" :: glob :: warcDir :: outDir :: rest =>
      // corpus bridge over DEDUP-WRITTEN archives: full responses PLUS
      // revisit records reconstituted to their original's text (the
      // x125 pieces composed) — a digest-deduped crawl reads as if
      // every capture were stored full
      val spark = session()
      val lenient = !rest.contains("strict")
      val docs = graft.sources.WarcSource.crawlDocsResolved(
        spark, warcDir, glob, lenient)
      docs.write.mode("overwrite").parquet(outDir)
      val n = spark.read.parquet(outDir).count()
      println(s"[graft] corpus-from-warc-resolved: $glob -> $outDir ($n docs)")
      spark.stop()

    case "wet-demo" :: docsParquet :: outDir :: Nil =>
      // materialize Common-Crawl-shaped .warc.wet[.gz] fixtures
      val spark = session()
      new java.io.File(outDir).mkdirs()
      graft.sources.WarcSource.synthesizeWet(
          spark, spark.read.parquet(docsParquet))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach { r =>
            val id = r.getLong(0)
            val ext = if (id % 2 == 0) "warc.wet.gz" else "warc.wet"
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"d$id.$ext"),
              r.getAs[Array[Byte]](1))
          }
        }
      println(s"[graft] wet-demo: $docsParquet -> $outDir")
      spark.stop()

    case "wet-write" :: docsParquet :: outDir :: rest =>
      // the EXPORT side of the WET surface: corpus -> sharded
      // .warc.wet.gz archives (warcinfo lead + conversion record per
      // doc, gzip member-per-record), the interchange format every
      // Common-Crawl consumer ingests; re-ingest with corpus-from-wet
      val spark = session()
      val nShards = rest.headOption.map(_.toInt).getOrElse(8)
      val gzip = !rest.contains("plain")
      val n = graft.sources.WarcSource.writeWet(
        spark.read.parquet(docsParquet), outDir, nShards, gzip)
      println(s"[graft] wet-write: $docsParquet -> $outDir " +
        s"($n docs, $nShards shards, gzip=$gzip)")
      spark.stop()

    case "stream-wet-write" :: landingDir :: outDir :: checkpoint :: rest =>
      // continuous archive export: parquet docs land, each micro-batch
      // exports as its own wave of WET shards (idempotent on replay —
      // deterministic bytes + first-wins rename)
      val spark = session()
      val nShards = rest.headOption.map(_.toInt).getOrElse(4)
      val runSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = spark.readStream.schema(docSchema).parquet(landingDir)
      val q = streaming.StreamingAnalytics.wetExportIngest(
        stream, outDir, checkpoint, nShards)
      println(s"[graft] wet-export server on $landingDir -> $outDir")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    case "stream-warc-write" :: landingDir :: outDir :: checkpoint :: rest =>
      // continuous response-record export: page rows land, each
      // micro-batch becomes its own wave of .warc.gz archives.
      // `dedup`: cross-wave digest dedup through the persisted
      // digest-index — repeats become revisit records
      val spark = session()
      val nums = rest.filter(_.forall(_.isDigit))
      val nShards = nums.headOption.map(_.toInt).getOrElse(4)
      val runSec = nums.drop(1).headOption.map(_.toInt).getOrElse(0)
      val pageSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("uri",
          org.apache.spark.sql.types.StringType),
        // LONG, not INT: schema-declared parquet streaming reads are
        // strict about physical integer width, and foreign producers
        // (pandas included) default to int64 — writeWarc casts down
        org.apache.spark.sql.types.StructField("status",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("body",
          org.apache.spark.sql.types.BinaryType)))
      val stream = spark.readStream.schema(pageSchema).parquet(landingDir)
      val q =
        if (rest.contains("dedup"))
          streaming.StreamingAnalytics.warcExportDedupIngest(
            stream, outDir, checkpoint, nShards)
        else streaming.StreamingAnalytics.warcExportIngest(
          stream, outDir, checkpoint, nShards)
      println(s"[graft] warc-export server on $landingDir -> $outDir" +
        (if (rest.contains("dedup")) " (dedup)" else ""))
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    case "warc-write" :: pagesParquet :: outDir :: rest =>
      // response-record archive export: pages (uri, status,
      // content_type, body) -> sharded .warc.gz with real SHA-1 payload
      // digests — archives warc-index can index and cdx-fetch can
      // point-fetch. `from-docs` adapts a documents table (uri from
      // source/doc_id, status 200, text/plain body) for corpus export.
      val spark = session()
      val nShards = rest.filter(_.forall(_.isDigit)).headOption
        .map(_.toInt).getOrElse(8)
      val gzip = !rest.contains("plain")
      val in = spark.read.parquet(pagesParquet)
      val pages =
        if (!rest.contains("from-docs")) in
        else in.selectExpr(
          "concat('http://', source, '/graft/', doc_id) AS uri",
          "200 AS status",
          "'text/plain; charset=utf-8' AS content_type",
          "encode(text, 'UTF-8') AS body")
      // `dedup`: CC-shaped digest dedup — first URI per payload digest
      // writes the full response, repeats write revisit records
      // (resolve-revisits reconstitutes them). `requests`: interleave
      // request records paired by WARC-Concurrent-To.
      val n = graft.sources.WarcSource.writeWarc(pages, outDir, nShards,
        gzip, dedupDigests = rest.contains("dedup"),
        requests = rest.contains("requests"))
      println(s"[graft] warc-write: $pagesParquet -> $outDir " +
        s"($n pages, $nShards shards, gzip=$gzip" +
        (if (rest.contains("dedup")) ", dedup" else "") +
        (if (rest.contains("requests")) ", requests" else "") + ")")
      spark.stop()

    case "corpus-from-wet" :: glob :: outDir :: rest =>
      // WET conversion records -> documents-table shape (text already
      // extracted upstream; no HTML stage)
      val spark = session()
      val lenient = !rest.contains("strict")
      graft.sources.WarcSource.wetDocs(spark, glob, lenient)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] corpus-from-wet: $glob -> $outDir")
      spark.stop()

    case "stream-cdx-fetch" :: cdxLanding :: warcDir :: outDir :: checkpoint :: rest =>
      // continuous selective refetch: cdx shards land, their pointers
      // fetch one member each out of warcDir, exactly-once per shard
      val spark = session()
      val runSec = rest.headOption.map(_.toInt).getOrElse(0)
      val q = streaming.StreamingAnalytics.cdxFetchIngest(
        spark, cdxLanding, warcDir, outDir, checkpoint)
      println(s"[graft] cdx-fetch server on $cdxLanding over $warcDir -> $outDir")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    case "stream-warc-extract" :: landingDir :: outDir :: checkpoint :: rest =>
      val spark = session()
      val runSec = rest.headOption.map(_.toInt).getOrElse(0)
      val q = streaming.StreamingAnalytics.warcIngest(
        spark, landingDir, outDir, checkpoint)
      println(s"[graft] warc-extract server on $landingDir -> $outDir")
      if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
      else q.awaitTermination()
      spark.stop()

    case "mkv-scan" :: glob :: outDir :: Nil =>
      val spark = session()
      graft.sources.MkvSource.mkvFiles(spark, glob)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] mkv-scan: $glob -> $outDir")
      spark.stop()

    case "tar-scan" :: glob :: outDir :: Nil =>
      val spark = session()
      graft.sources.TarSource.tarFiles(spark, glob)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] tar-scan: $glob -> $outDir")
      spark.stop()

    case "zip-demo" :: docsParquet :: outDir :: Nil =>
      // materialize .zip fixtures (mixed stored/deflate, some commented)
      val spark = session()
      new java.io.File(outDir).mkdirs()
      sources.ZipSource.synthesizeZip(spark, spark.read.parquet(docsParquet))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"d${r.getLong(0)}.zip"),
              r.getAs[Array[Byte]](1))
          }
        }
      println(s"[graft] zip-demo: $docsParquet -> $outDir")
      spark.stop()

    case "zip-scan" :: glob :: outDir :: Nil =>
      // central-directory manifest of every archive under the glob,
      // each entry decoded + CRC-verified
      val spark = session()
      sources.ZipSource.zipFiles(spark, glob)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] zip-scan: $glob -> $outDir")
      spark.stop()

    case "stream-zip-scan" :: landingDir :: outDir :: ckpt :: rest =>
      // continuous ZIP-shard ingestion server (completes the trio next
      // to stream-warc-extract and stream-tar-scan)
      val spark = session()
      val lifetime = rest.headOption.map(_.toInt).getOrElse(15)
      val q = streaming.StreamingAnalytics.zipIngest(
        spark, landingDir, outDir, ckpt)
      println(s"[graft] zip-scan server on $landingDir -> $outDir")
      q.awaitTermination(lifetime * 1000L)
      q.stop()
      spark.stop()

    case "stream-tar-scan" :: landingDir :: outDir :: ckpt :: rest =>
      // continuous WebDataset-shard ingestion server (tar sibling of
      // stream-warc-extract); lifetimeSec bounds the demo run
      val spark = session()
      val lifetime = rest.headOption.map(_.toInt).getOrElse(15)
      val q = streaming.StreamingAnalytics.tarIngest(
        spark, landingDir, outDir, ckpt)
      println(s"[graft] tar-scan server on $landingDir -> $outDir")
      q.awaitTermination(lifetime * 1000L)
      q.stop()
      spark.stop()

    case "stream-wat-scan" :: landingDir :: outDir :: ckpt :: rest =>
      // continuous WAT-metadata ingestion server (the wat sibling of
      // stream-warc-extract); lifetimeSec bounds the demo run
      val spark = session()
      val lifetime = rest.headOption.map(_.toInt).getOrElse(15)
      val q = streaming.StreamingAnalytics.watIngest(
        spark, landingDir, outDir, ckpt)
      println(s"[graft] wat-scan server on $landingDir -> $outDir")
      q.awaitTermination(lifetime * 1000L)
      q.stop()
      spark.stop()

    case "mkv-meta" :: mediaParquet :: outDir :: Nil =>
      val spark = session()
      graft.sources.MkvSource.mkvTable(spark, spark.read.parquet(mediaParquet))
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] mkv-meta: $mediaParquet -> $outDir")
      spark.stop()

    case "mkv-meta-demo" :: docsParquet :: outDir :: Nil =>
      val spark = session()
      val media = graft.sources.MkvSource.synthesizeMkv(
        spark, spark.read.parquet(docsParquet))
      graft.sources.MkvSource.mkvTable(spark, media)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] mkv-meta-demo: $docsParquet -> $outDir")
      spark.stop()

    case "mp3-meta-demo" :: docsParquet :: outDir :: rest =>
      // MP3 frame walk over the deterministic fixture corpus: `frames`
      // (default) writes the per-frame segment table, `summary` the
      // per-file totals + VBR header claims
      val spark = session()
      val media = graft.sources.Mp3Source.synthesizeMp3(
        spark, spark.read.parquet(docsParquet))
      val out =
        if (rest.contains("summary"))
          graft.sources.Mp3Source.mp3Meta(spark, media)
        else graft.sources.Mp3Source.mp3Frames(spark, media)
      out.write.mode("overwrite").parquet(outDir)
      println(s"[graft] mp3-meta-demo: $docsParquet -> $outDir" +
        (if (rest.contains("summary")) " (summary)" else " (frames)"))
      spark.stop()

    case "warc-demo" :: docsParquet :: outDir :: Nil =>
      val spark = session()
      new java.io.File(outDir).mkdirs()
      graft.sources.WarcSource.synthesizeWarc(
          spark, spark.read.parquet(docsParquet))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach { r =>
            val id = r.getLong(0)
            val ext = if (id % 2 == 0) "warc.gz" else "warc"
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"d$id.$ext"),
              r.getAs[Array[Byte]](1))
          }
        }
      println(s"[graft] warc-demo: $docsParquet -> $outDir")
      spark.stop()

    case "warc-extract" :: glob :: outDir :: Nil =>
      val spark = session()
      graft.sources.WarcSource.warcFiles(spark, glob)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] warc-extract: $glob -> $outDir")
      spark.stop()

    case "orc-footer" :: paths if paths.nonEmpty =>
      paths.foreach { p =>
        val t = graft.sources.OrcFooter.readTail(p)
        println(s"$p: codec=${t.compression} rows=${t.nRows} " +
          s"types=${t.typeKinds.size} stripes=${t.stripes.size} " +
          s"writerVersion=${t.writerVersion}")
        t.rootFields.zipWithIndex.foreach { case (c, i) =>
          val st = t.stats(i + 1)
          val ints = st.ints.map(s =>
            s" int[${s.min.getOrElse("-")},${s.max.getOrElse("-")}] " +
              s"sum=${s.sum.getOrElse("-")}").getOrElse("")
          println(f"  $c%-24s values=${st.values}%-9d$ints")
        }
      }

    case "parquet-prune" :: file :: column :: lo :: hi :: Nil =>
      val plan = graft.sources.ParquetFooter.pruneRowGroups(
        file, column, lo.toLong, hi.toLong)
      plan.foreach { p =>
        val st = (p.mn, p.mx) match {
          case (Some(a), Some(b)) => s"[$a,$b]"
          case _ => "[no stats]"
        }
        println(f"rg${p.rgIdx}%-4d rows=${p.numRows}%-8d off=${p.startOffset}%-10d " +
          f"bytes=${p.totalCompressed}%-9d $st%-22s ${if (p.keep) "SCAN" else "prune"}")
      }
      val kept = plan.filter(_.keep)
      println(s"[graft] ${kept.size}/${plan.size} row groups survive: " +
        s"${kept.map(_.totalCompressed).sum} of " +
        s"${plan.map(_.totalCompressed).sum} compressed bytes")

    // media metadata sweep: parse image containers (PNG chunk walk /
    // JPEG marker walk, no pixel decode) out of a binary column. The
    // input is any parquet with (doc_id, content) — for a quick drive,
    // `image-meta-demo` synthesizes the fixture corpus first.
    // scan-planner's view of a parquet file: footer-only read (tail KBs,
    // never data pages) via our own thrift-compact decoder
    case "parquet-footer" :: paths if paths.nonEmpty =>
      paths.foreach { p =>
        val f = graft.sources.ParquetFooter.readFooter(p)
        println(s"$p: rows=${f.numRows} rowGroups=${f.rowGroups.size} " +
          s"createdBy='${f.createdBy}'")
        f.rowGroups.zipWithIndex.foreach { case (rg, i) =>
          println(f"  rg$i: rows=${rg.numRows} bytes=${rg.totalByteSize}")
          rg.columns.foreach { c =>
            val stats = (c.minI64, c.maxI64) match {
              case (Some(a), Some(b)) => s" min=$a max=$b"
              case _ => ""
            }
            println(f"    ${c.pathInSchema.mkString(".")}%-28s " +
              f"${graft.sources.ParquetFooter.physName(c.physType)}%-10s " +
              f"${graft.sources.ParquetFooter.codecName(c.codec)}%-8s " +
              f"n=${c.numValues} comp=${c.totalCompressed} " +
              f"unc=${c.totalUncompressed} off=${c.dataPageOffset}$stats")
          }
        }
      }

    case "image-meta" :: mediaParquet :: outDir :: rest =>
      val spark = session()
      val fmt = rest.headOption.getOrElse("png")
      val media = spark.read.parquet(mediaParquet)
      val out = fmt match {
        case "png" => graft.operators.ImageCodecs.pngMetaTable(spark, media)
        case "jpeg" => graft.operators.ImageCodecs.jpegMetaTable(spark, media)
        case "gif" => graft.sources.GifSource.gifTable(spark, media)
        case "tiff" => graft.sources.TiffSource.tiffTable(spark, media)
        case "webp" => graft.sources.WebpSource.webpTable(spark, media)
        case "webp-pixels" =>
          graft.sources.WebpSource.webpPixelTable(spark, media)
        case other => sys.error(s"image-meta: unknown format $other")
      }
      out.write.mode("overwrite").parquet(outDir)
      println(s"[graft] image-meta ($fmt): $mediaParquet -> $outDir")
      spark.stop()

    case "image-meta-demo" :: docsParquet :: outDir :: rest =>
      val spark = session()
      val fmt = rest.headOption.getOrElse("png")
      val docs = spark.read.parquet(docsParquet)
      val media = fmt match {
        case "png" => graft.operators.ImageCodecs.synthesizePng(spark, docs)
        case "jpeg" => graft.operators.ImageCodecs.synthesizeJpeg(spark, docs)
        case "gif" => graft.sources.GifSource.synthesizeGif(spark, docs)
        case "tiff" => graft.sources.TiffSource.synthesizeTiff(spark, docs)
        case "webp" | "webp-pixels" =>
          graft.sources.WebpSource.synthesizeWebp(spark, docs)
        case other => sys.error(s"image-meta-demo: unknown format $other")
      }
      media.write.mode("overwrite").parquet(outDir)
      println(s"[graft] image-meta-demo ($fmt): ${docs.count()} docs -> $outDir")
      spark.stop()

    case other =>
      System.err.println(
        s"""Unknown arguments: ${other.mkString(" ")}
           |Usage: [--pool=<tenant>] <command> ...   (FAIR scheduler pool for shared sessions)
           |  generate <outDir> <nRows> [seed]
           |  prepartition <inGlob> <outDir> <colIdx> <maxPartitions> <seed> [gzip]
           |  prepartition-spread <inGlob> <basePath1,basePath2,...> <colIdx> <maxPartitions> <seed> [gzip]
           |  split <inGlob> <outDir> <maxBytesPerShard> [header] [gzip]
           |  validate <stagingDir>
           |  stream <landingDir> <stagingDir> <checkpointDir> <colIdx> <maxPartitions> <seed> [triggerSec] [runSec]
           |  notify-publish <queueDir> <blobPath> [blobPath ...]
           |  notify-publish-spool <queueDir> <blobPath> [blobPath ...]   (object-store-safe; consumer needs claimMode=spool)
           |  stream-notify <queueDir> <stagingDir> <checkpointDir> <colIdx> <maxPartitions> <seed> [triggerSec] [runSec] [rename|spool]
           |  stream-notify-split <queueDir> <outDir> <checkpointDir> <maxBytesPerShard> [header] [gzip] [triggerSec] [runSec]
           |  corpus-prep <documentsParquet> <outDir> [minTokens] [jaccardThreshold] [capacity]
           |  prepare-run <documentsParquet> <benchParquet> <outDir> [minTokens] [jaccardThreshold] [capacity] [valPct] [semanticTau]
           |  prepare-run-wave <waveParquet> <outDir> <waveId>
           |  prepare-run-compact <outDir> [targetBytes]
           |  dedup-delta <corpusParquet> <batchParquet> <outDir> [jaccardThreshold]
           |  decontaminate <trainParquet> <benchParquet> <outDir> [nGram] [bloom]
           |  zorder-write <inParquet> <outDir> <colA> <colB> [partitions]
           |  compact <inDir> <outDir> [targetMB] [sortCol1,sortCol2,...]
           |  export-jsonl <inParquet> <outDir> [limitMB] [gzip]
           |  graph-pagerank <edgesParquet> <outDir> [iters] [tolUnits] [dangling]
           |  graph-triangles <edgesParquet> <outDir>
           |  graph-ancestors <parentsParquet> <outDir> [rounds]
           |  graph-ppr <edgesParquet> <seedsParquet> <outDir> [iters]
           |  graph-kcore <edgesParquet> <outDir> [k]
           |  graph-hits <edgesParquet> <outDir> [iters]
           |  graph-bfs <edgesParquet> <seedsParquet> <outDir> [maxDepth]
           |  graph-components <edgesParquet> <outDir> [maxRounds]
           |  graph-sssp <edgesParquet(src,dst,w)> <seedsParquet> <outDir> [maxRounds]
           |  stream-tar-scan <landingDir> <outDir> <ckptDir> [lifetimeSec]
           |  stream-zip-scan <landingDir> <outDir> <ckptDir> [lifetimeSec]
           |  wet-demo <docsParquet> <outDir>
           |  corpus-from-wet '<glob.wet*>' <outParquet> [strict]
           |  zip-demo <docsParquet> <outDir>
           |  zip-scan '<glob.zip>' <outDir>
           |  manifest-compact <shardDir> [retainDays]
           |  dedup-index-build <docsParquet> <indexDir>
           |  ann-index-build <embeddingsParquet> <indexDir> [nlist] [trainIters]
           |  ann-index-append <embeddingsParquet> <indexDir>
           |  ann-query <indexDir> <embeddingsParquet> <vecId> <k> [nprobe]
           |  ann-index-build-pq <embeddingsParquet> <indexDir> [nlist] [nSub] [trainIters]
           |  ann-index-append-pq <embeddingsParquet> <indexDir>
           |  ann-query-pq <indexDir> <embeddingsParquet> <vecId> <k> [nprobe]
           |  prepare-run-sync-ann <outDir> <indexDir> [nlist] [trainIters]
           |  ann-binary-build <embeddingsParquet> <indexDir>
           |  ann-binary-append <embeddingsParquet> <indexDir>
           |  ann-binary-query <indexDir> <embeddingsParquet> <vecId> <k> [prefilter]
           |  ann-compact <indexDir> [targetBytes]
           |  stream-upsert <landingDir> <tableDir> <checkpointDir> <keyCol> <tsCol> [nBuckets] [runSec]
           |  stream-dedup-delta <corpusParquetOrIndex> <landingDir> <outDir> <checkpointDir> [threshold] [runSec]
           |  stream-semantic-dedup <prepRunDir> <landingDir> <outDir> <checkpointDir> [tau] [runSec]
           |  stream-quality-route <landingDir> <passDir> <quarantineDir> <checkpointDir> [minWords] [runSec]
           |  stream-append-unique <landingDir> <corpusTableDir> <checkpointDir> [nBuckets] [runSec]
           |  stream-asof <refParquet> <landingDir> <outDir> <checkpointDir> <keyCol> <timeCol> <valueCols,> [runSec] [backward|forward] [toleranceUnits]
           |  heavy-hitters <docsParquet> [k]
           |  kmeans <embeddingsParquet> <outDir> [k] [iters]
           |  profile <inParquet>
           |  chunk <docsParquet> <outDir> [size] [stride]
           |  image-meta <mediaParquet(doc_id,content)> <outDir> [png|jpeg|gif|tiff|webp|webp-pixels]
           |  image-meta-demo <docsParquet> <outDir> [png|jpeg|gif|tiff|webp|webp-pixels]
           |  mp3-meta-demo <docsParquet> <outDir> [frames|summary]
           |  parquet-footer <file.parquet> [file.parquet ...]
           |  orc-footer <file.orc> [file.orc ...]
           |  parquet-prune <file.parquet> <intColumn> <lo> <hi>
           |  avro-scan <glob.avro> <outDir>
           |  cdx-demo <docs.parquet> <outDir>
           |  cdx-scan <glob.cdx[.gz]> <outDir>
           |  cdx-fetch <cdxGlob> <warcDir> <outDir>
           |  warc-index <glob.warc[.gz]> <outDir>
           |  cdx-cluster <sortedCdxGlob> <outDir> [blockSize]
           |  cdx-lookup <clusterDir> <url>
           |  resolve-revisits <glob.warc[.gz]> <warcDir> <outDir>
           |  corpus-from-cdx <cdxGlob> <warcDir> <outDir>
           |  stream-cdx-fetch <cdxLandingDir> <warcDir> <outDir> <ckpt> [runSec]
           |  wat-demo <docs.parquet> <outDir>
           |  wat-scan <glob.wat[.gz]> <outDir>
           |  stream-wat-scan <landingDir> <outDir> <ckpt> [runSec]
           |  mkv-scan <glob.mkv|.webm> <outDir>
           |  tar-scan <glob.tar[.gz]> <outDir>
           |  mkv-meta <mediaParquet(doc_id,content)> <outDir>
           |  mkv-meta-demo <docsParquet> <outDir>
           |  warc-demo <docsParquet> <outDir>
           |  warc-extract <glob.warc[.gz]> <outDir>
           |  corpus-from-warc <glob.warc[.gz]> <docsOutDir> [strict] [main]
           |  stream-warc-extract <landingDir> <outDir> <checkpointDir> [runSec]""".stripMargin)
      sys.exit(2)
  }
}
