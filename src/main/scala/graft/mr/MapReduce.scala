package graft.mr

import graft.sources.{Corpus, PathPredicate}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The reference's job model (`jobs.go:9-20`) re-expressed Spark-first.
  *
  * A job is: a path filter, an optional directory-files filter
  * (hierarchy context), a flatMap-shaped mapper
  * `(path, parents, content) → 0..n records` (reference
  * `interfaces.go:17-27` — strictly a flatMap, covering projection,
  * filtering and record splitting), and a distributive reduction
  * `(zero, fold, merge)`.
  *
  * Departures from the reference, by design (SURVEY.md §7.3):
  *  - the goroutine pipeline / batching / backpressure machinery
  *    (mapreduce.go:39-129,356-399) is replaced by Spark's scheduler;
  *  - reduction is partial-per-partition then merged — the
  *    distributed reduction the reference left as a TODO
  *    (readme.md:44); its `Sorter` per-batch sort semantic
  *    (mapreduce.go:461-477) maps to an optional partition-local sort
  *    before folding (`sortWithinPartitions`);
  *  - errors fail the whole run via Spark task failure → exception,
  *    matching the reference's first-error-cancels-everything
  *    (mapreduce.go:215-220).
  */
final case class MapReduceJob[M, R](
    name: String,
    filter: PathPredicate,
    mapper: (String, Seq[Array[Byte]], Array[Byte]) => IterableOnce[M],
    zero: R,
    fold: (R, M) => R,
    merge: (R, R) => R,
    directoryFiles: Option[PathPredicate] = None,
    sortKey: Option[M => Long] = None,
    finish: R => Unit = (_: R) => ())(
    implicit val enc: Encoder[M], val rct: scala.reflect.ClassTag[R])
  extends CorpusJob {

  /** Run the map phase only, as a typed Dataset (composable with the
    * whole relational surface). */
  def mapped(files: DataFrame): Dataset[M] = {
    val pred = filter
    val parentsFor = ParentStacks.resolver(files, directoryFiles)
    val m = mapper
    val jobName = name
    files
      .filter(col("path").isNotNull)
      .flatMap { row =>
        val path = row.getAs[String]("path")
        if (pred.matches(path))
          try m(path, parentsFor(path), row.getAs[Array[Byte]]("content"))
          catch {
            // typed failure context (reference errors.go:5-33: every
            // error is wrapped with the job and path that produced
            // it) — a million-file run must say WHERE it died, not
            // just surface the raw mapper exception
            case e: Exception => throw GraftJobException(jobName, path, e)
          }
        else Iterator.empty
      }(enc)
  }

  def run(files: DataFrame): Any = {
    val ds = mapped(files)
    val sorted = sortKey match {
      case Some(k) =>
        // Reference Sorter semantics: sort is per delivered batch, not
        // global (interfaces.go:54). Partition-local sort is the
        // faithful distributed equivalent.
        import org.apache.spark.sql.Encoders
        ds.map(v => (k(v), v))(Encoders.tuple(Encoders.scalaLong, enc))
          .sortWithinPartitions(col("_1"))
          .map(_._2)(enc)
      case None => ds
    }
    val (z, f, mg) = (zero, fold, merge)
    // Partial fold per partition, then merge: partial+final aggregation
    // — the distributed reduction the reference TODO'd. The merge tier
    // is config-selected: the default collects ONE partial per
    // partition to the driver (fine to ~10³ partitions — the partials,
    // not the data, move), while `spark.graft.mr.mergeDepth` ≥ 2 opts
    // into a treeAggregate whose intermediate levels merge
    // executor-side in √P-ish groups — the shape for 10⁵-partition
    // corpora with non-trivial reduction state, where a single driver
    // merge pass is both a memory spike and a serial hotspot.
    val partials = sorted.rdd
      .mapPartitions(it => Iterator.single(it.foldLeft(z)(f)))
    val depth = files.sparkSession.conf
      .get("spark.graft.mr.mergeDepth", "1").toInt
    val result =
      if (depth <= 1) partials.collect().foldLeft(z)(mg)
      else partials.treeAggregate(z)(mg, mg, depth)
    finish(result)
    result
  }
}

trait CorpusJob extends Serializable {
  def name: String
  def run(files: DataFrame): Any
}

/** Mapper failure wrapped with its job and path (reference
  * errors.go:5-33 — `fileError`/`jobError` context chain). Spark
  * re-wraps task failures in SparkException, but this message — job +
  * path — survives in the cause chain and the task log. */
final case class GraftJobException(jobName: String, path: String,
    cause: Exception)
  extends RuntimeException(
    s"graft job '$jobName' failed on path '$path': ${cause.getMessage}", cause)

/** Hierarchy context (SURVEY.md §1.3, §7.3): files matching a job's
  * `directoryFiles` filter become ancestor context for every file in
  * the *strict* subtree below their folder, ordered root→leaf —
  * reference semantics from work.go:68-100 / mapreduce.go:152-204,
  * including the rule that a file in the same folder as a directory
  * file does NOT see it (both load in the same folder pass).
  *
  * Directory files are few and small by contract (the reference holds
  * them all in one in-process map, mapreduce.go:187), so this is a
  * hand-rolled broadcast join: collect the matching rows, broadcast
  * the sorted stack table, resolve per row map-side. No shuffle.
  *
  * Intentional divergence: when SEVERAL files in one folder match
  * `directoryFiles`, ALL are kept as context, path-ordered within the
  * folder — the reference keeps exactly one (its per-folder map entry
  * is overwritten per job, mapreduce.go:193, so the survivor is
  * iteration-order luck). Keeping all, deterministically ordered, is
  * strictly more informative and reproducible.
  */
object ParentStacks {
  /** Phase 1 of directory-file discovery: the PATH-ONLY scan. Exposed
    * so PlanSpec can pin that this plan's read schema never includes
    * `content` — the whole point of the two-phase shape: on an
    * UNCACHED columnar corpus, finding the ~100 directory files must
    * cost a path-column scan, not a deserialization of every file's
    * payload bytes (a row-lambda `filter(r => ...)` forced exactly
    * that: a typed filter reads whole rows). The predicate runs as a
    * Column expression over `path` alone, so column pruning holds. */
  private[graft] def discoveryPlan(files: DataFrame, pred: PathPredicate)
      : DataFrame = {
    val matchesPath = org.apache.spark.sql.functions
      .udf((p: String) => pred.matches(p))
    files.select(col("path")).filter(matchesPath(col("path")))
  }

  def resolver(files: DataFrame, dirFilter: Option[PathPredicate])
      : String => Seq[Array[Byte]] =
    dirFilter match {
      case None => _ => Nil
      case Some(pred) =>
        // phase 1: path-only discovery (column-pruned scan, no content)
        val dirPaths = discoveryPlan(files, pred).collect().map(_.getString(0))
        // phase 2: fetch content for ONLY the discovered paths. Over a
        // columnar source whose `path` is a stored column, the `isin`
        // compiles to an In filter the scan pushes down (row-group
        // skipping). On the `binaryFile` corpus of `Corpus.read`,
        // `path` is derived by `regexp_replace`, so nothing is pushed:
        // uncached (as in mr01) this phase reads every file's content
        // and filters after the scan. Under `MapReduceRunner` it reads
        // the shared cached copy instead.
        val dirRows = (if (dirPaths.isEmpty)
          Array.empty[(String, Int, String, Array[Byte])]
        else files
          .filter(col("path").isin(dirPaths.toIndexedSeq: _*))
          .select(col("dir"), col("depth"), col("path"), col("content"))
          .collect() // only the few matching directory files reach the driver
          .map(r => (r.getAs[String]("dir"), r.getAs[Int]("depth"),
            r.getAs[String]("path"), r.getAs[Array[Byte]]("content"))))
          .sortBy(t => (t._2, t._3)) // root→leaf, stable within a folder
        path => {
          val fileDir = path.lastIndexOf('/') match {
            case -1 => ""
            case i  => path.substring(0, i)
          }
          dirRows.collect {
            case (dfDir, _, _, content)
                if dfDir != fileDir &&
                  (dfDir.isEmpty || fileDir.startsWith(dfDir + "/")) =>
              content
          }.toSeq
        }
    }
}

/** Multi-job executor (reference `MapReduce(filesystem, jobs)`,
  * mapreduce.go:12-221): N jobs over ONE traversal. The reference
  * pays listing+open+parse once and fans results out to each job's
  * pipeline; here the corpus DataFrame is persisted (MEMORY_AND_DISK)
  * and every job's plan reads the cached copy — the multi-query
  * optimization Catalyst doesn't do across actions (SURVEY.md §4).
  *
  * There is no eager materialize pass: the first job to reach a
  * partition builds its cache block, and Spark's block write lock
  * makes any other job that reaches the same partition wait for that
  * block and read it, so the tree is still read once. An eager
  * `count()` would add three Spark jobs under AQE before any job
  * starts.
  */
object MapReduceRunner {

  /** Jobs run CONCURRENTLY by default, like the reference's per-job
    * goroutine pipelines (mapreduce.go:41-93): each job's action is
    * submitted from its own thread, so a job that underutilizes the
    * cluster (small filtered subset, driver-side merge) leaves cores
    * for the others instead of idling them. Each submitting thread
    * sets its own `spark.scheduler.pool`, so a FAIR-mode context
    * (`spark.scheduler.mode=FAIR`) interleaves jobs fairly; under the
    * default FIFO mode concurrent jobs still overlap whenever cores
    * are free. `spark.graft.mr.concurrency` bounds the pool (≤1 →
    * serial, the pre-round-9 behavior; results are identical either
    * way — MapReduceSpec asserts both overlap and equality).
    *
    * First error cancels everything (reference mapreduce.go:215-220):
    * all actions share one Spark job group; the first failure cancels
    * the group, interrupting the surviving jobs' tasks.
    *
    * A corpus the caller already cached is used as is and left cached:
    * the runner unpersists only a cache it created. */
  def run(spark: SparkSession, corpus: DataFrame, jobs: Seq[CorpusJob])
      : Map[String, Any] = {
    val ownsCache = corpus.storageLevel == StorageLevel.NONE
    val cached =
      if (ownsCache) corpus.persist(StorageLevel.MEMORY_AND_DISK) else corpus
    try {
      val par = spark.conf.get("spark.graft.mr.concurrency", "8")
        .toInt.min(jobs.size)
      if (par <= 1) jobs.map(j => j.name -> j.run(cached)).toMap
      else runConcurrent(spark, cached, jobs, par)
    } finally if (ownsCache) { cached.unpersist(); () }
  }

  private def runConcurrent(spark: SparkSession, cached: DataFrame,
      jobs: Seq[CorpusJob], par: Int): Map[String, Any] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = spark.sparkContext
    val groupId = s"graft-mr-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = jobs.map { j =>
        Future {
          // per-thread local properties: shared cancel group, per-job
          // FAIR pool. Cleared afterwards — the pool thread is reused.
          sc.setJobGroup(groupId, s"graft mr job ${j.name}",
            interruptOnCancel = true)
          sc.setLocalProperty("spark.scheduler.pool", s"graft-mr-${j.name}")
          try j.name -> j.run(cached)
          finally {
            sc.clearJobGroup()
            sc.setLocalProperty("spark.scheduler.pool", null)
          }
        }
      }
      try Await.result(Future.sequence(futs), Duration.Inf).toMap
      catch {
        case e: Throwable =>
          sc.cancelJobGroup(groupId) // first error cancels everything
          throw e
      }
    } finally pool.shutdown()
  }

  def runOnDirectory(spark: SparkSession, root: String, jobs: Seq[CorpusJob])
      : Map[String, Any] =
    run(spark, Corpus.read(spark, root), jobs)
}
