package graft.handler

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** Spark-native re-expression of the reference's `DistributedHandler`
  * (`/root/reference/aics_dask_utils/distributed_handler.py:20`) — one
  * façade over "local threads vs a distributed cluster".
  *
  * Semantics map (reference → Spark):
  *  - `DistributedHandler(address)` (:20) → session against `local[*]` or a
  *    cluster master URL; an existing session is reused (`connect` to a
  *    running cluster ≈ dask's connect-to-scheduler).
  *  - `client.map(f, *iterables)` (:39) → [[map]] / [[map2]] / [[map3]] /
  *    [[mapN]]: the driver cuts the items into contiguous slices (copies:
  *    items must be serializable, like `f`) that ride in the task
  *    descriptions (`parallelize`); `f` runs in the task, no shuffle. The
  *    lazy Dataset IS the futures handle, gathered in input order.
  *  - `batched_map(f, *its, batch_size)` (:93, dask/distributed#2181: don't
  *    drown the scheduler with one task per item) → [[batchedMap]]: one
  *    task per `batchSize` contiguous items; `batch_size` omitted, one
  *    per worker — worker-count tasks in flight, as in the reference.
  *  - `gather(futures)` (:146) → [[gather]] (`collect`) — the only
  *    driver-side materialization point, by user request.
  *  - `close()` / context manager (:165) → [[close]] / [[DistributedHandler.withHandler]]:
  *    releases the façade, leaves the underlying cluster up (session is
  *    only stopped if this handler created it AND `stopOnClose=true`).
  *  - `DEFAULT_MAX_THREADS` (:15) → [[defaultBatchSize]] =
  *    `sparkContext.defaultParallelism`. The reference defaults to
  *    `cpu_count * 5` — a thread-OVERSUBSCRIPTION hedge for IO-bound
  *    `f`s on the local-threads backend. Spark schedules one task per
  *    core, so the analog is not more threads but SMALLER batches:
  *    an IO-bound map should pass `batchSize = n / (5 *
  *    defaultBatchSize)`-ish so ~5 task waves overlap their IO waits
  *    (and genuinely async IO belongs in `mapPartitions` with a
  *    batched client call, not per-item threads).
  *
  * Declared NON-mappings (no Spark per-call equivalent exists):
  *  - `client.map(..., **kwargs)` (:94,:121) passes dask scheduler
  *    options per call (`pure=`, `priority=`, `resources=`, ...).
  *    Spark has no per-map-call scheduler knobs; the analogs are
  *    session/pool-level confs (`spark.scheduler.pool` fair-scheduler
  *    pools for priority, stage-level `ResourceProfile`s for
  *    resources, determinism is the default in lieu of `pure`). Set
  *    them on the session around the call, not through this façade.
  */
final class DistributedHandler private (
    val spark: SparkSession,
    private val ownsSession: Boolean,
    private val stopOnClose: Boolean) extends AutoCloseable {

  /** Reference `_get_batch_size`: the cluster's worker/thread count. */
  def defaultBatchSize: Int = spark.sparkContext.defaultParallelism

  /** Distributed map of `f` over `items` — one batch per worker, lazy. */
  def map[A, B: Encoder](items: Seq[A])(f: A => B): Dataset[B] =
    sliced(Seq(items), None)(r => f(r(0).asInstanceOf[A]))

  /** Reference `client.map(f, it1, it2)`: zip iterables, apply binary f. */
  def map2[A, B, C: Encoder](as: Seq[A], bs: Seq[B])(
      f: (A, B) => C): Dataset[C] = sliced(Seq(as, bs), None)(r =>
    f(r(0).asInstanceOf[A], r(1).asInstanceOf[B]))

  /** Reference `client.map(f, it1, it2, it3)`: ternary typed form. */
  def map3[A, B, C, D: Encoder](as: Seq[A], bs: Seq[B], cs: Seq[C])(
      f: (A, B, C) => D): Dataset[D] = sliced(Seq(as, bs, cs), None)(r =>
    f(r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C]))

  /** Reference `client.map(f, *iterables)` at arbitrary arity: iterables
    * are zipped positionally (truncating to the shortest, like `zip`) and
    * `f` receives one `Seq` of aligned arguments per row.
    */
  def mapN[B: Encoder](iterables: Seq[Seq[Any]])(
      f: Seq[Any] => B): Dataset[B] = sliced(iterables, None)(f)

  /** Variadic `batched_map(f, *iterables, batch_size)` (reference :93) —
    * [[mapN]] zipping with [[batchedMap]]'s task-count bounding.
    */
  def batchedMapN[B: Encoder](iterables: Seq[Seq[Any]], batchSize: Int)(
      f: Seq[Any] => B): Dataset[B] = sliced(iterables, Some(batchSize))(f)

  /** [[batchedMapN]] with `batch_size` omitted: one batch per worker. */
  def batchedMapN[B: Encoder](iterables: Seq[Seq[Any]])(
      f: Seq[Any] => B): Dataset[B] = mapN(iterables)(f)

  /** Chunked map: `ceil(n / batchSize)` tasks of at most `batchSize`
    * contiguous items — the scheduler never holds per-item state. */
  def batchedMap[A, B: Encoder](items: Seq[A], batchSize: Int)(
      f: A => B): Dataset[B] =
    sliced(Seq(items), Some(batchSize))(r => f(r(0).asInstanceOf[A]))

  /** [[batchedMap]] with `batch_size` omitted: one batch per worker. */
  def batchedMap[A, B: Encoder](items: Seq[A])(f: A => B): Dataset[B] =
    map(items)(f)

  /** Cuts `columns`, truncated to the shortest, into contiguous chunks of
    * at most `batch` rows (else one per worker) at call time, as copies a
    * caller's later array writes cannot reach; `f` runs inside the tasks.
    */
  private def sliced[B: Encoder](columns: Seq[Seq[Any]], batch: Option[Int])(
      f: Seq[Any] => B): Dataset[B] = {
    require(columns.nonEmpty, "map needs at least one iterable")
    val cols = columns.map(_.toIndexedSeq)
    val n = cols.map(_.size).min
    val k = batch.fold(defaultBatchSize)(b => (n - 1) / (b max 1) + 1) max 1
    val chunks = (0 until k).map(s =>
      cols.map(_.slice((s.toLong * n / k).toInt, ((s + 1L) * n / k).toInt)))
    spark.createDataset(spark.sparkContext.parallelize(chunks, k).mapPartitions(
      _.flatMap(c => Iterator.range(0, c(0).size).map(i => f(c.map(_(i))))))(
      implicitly[Encoder[B]].clsTag))
  }

  /** Distributed map over an EXISTING Dataset — the form that matters at
    * 100 TB, where items never fit a driver-side Seq. Pure sugar over
    * `Dataset.map`, here so pipelines can stay inside the handler façade.
    */
  def mapDataset[A, B: Encoder](ds: Dataset[A])(f: A => B): Dataset[B] =
    ds.map(f)

  /** Batched map over an existing Dataset: caps concurrent tasks at
    * `maxTasks` by coalescing (no shuffle) — the reference's
    * "don't drown the scheduler" semantics applied to a distributed
    * source.
    */
  def batchedMapDataset[A, B: Encoder](ds: Dataset[A], maxTasks: Int)(
      f: A => B): Dataset[B] =
    // coalesce never raises the partition count, so it clamps by itself —
    // no ds.rdd materialization needed to read the current count
    ds.coalesce(math.max(1, maxTasks)).mapPartitions(_.map(f))

  /** Block until resolved, return results (reference `gather`, :146). */
  def gather[B](ds: Dataset[B]): Seq[B] = ds.collect().toSeq

  /** Gather results from SEVERAL map calls in one shot — the reference's
    * `client.gather(list_of_futures)` where the list mixes futures from
    * different `map` invocations (distributed_handler.py:146). Spark's
    * futures handle is a Dataset, so a mixed gather is the union of the
    * handles; results come back in input order (per-Dataset order
    * preserved, lists concatenated — the same order `gather` on each
    * Dataset then concatenating would give), materialized in ONE job
    * instead of one per handle. Heterogeneous ELEMENT types have no
    * common Encoder — map them to a shared ADT/tuple first (the typed
    * analog of dask's untyped future lists).
    */
  def gatherAll[B](dss: Seq[Dataset[B]]): Seq[B] = {
    require(dss.nonEmpty, "gatherAll needs at least one Dataset")
    dss.reduce(_ union _).collect().toSeq
  }

  /** Release the façade; leave the cluster up unless we own it and were
    * asked to stop it.
    */
  override def close(): Unit =
    if (ownsSession && stopOnClose) spark.stop()
}

object DistributedHandler {

  /** `address=None` → local threads; `Some(master)` → that cluster. */
  def apply(master: Option[String] = None,
      stopOnClose: Boolean = false): DistributedHandler = master match {
    case None =>
      val active = SparkSession.getActiveSession.orElse(
        SparkSession.getDefaultSession)
      active match {
        case Some(s) => new DistributedHandler(s, ownsSession = false,
          stopOnClose = false)
        case None =>
          val s = SparkSession.builder()
            .master("local[*]")
            .config("spark.sql.shuffle.partitions",
              Runtime.getRuntime.availableProcessors())
            .getOrCreate()
          new DistributedHandler(s, ownsSession = true, stopOnClose)
      }
    case Some(m) =>
      // getOrCreate IGNORES .master() when a session already exists (the
      // master is a static conf) — silently "connecting" to a different
      // cluster than requested, then stopping a session we don't own,
      // would be worse than failing loudly.
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        match {
        case Some(existing)
            if existing.sparkContext.master == m =>
          new DistributedHandler(existing, ownsSession = false,
            stopOnClose = false)
        case Some(existing) =>
          throw new IllegalStateException(
            s"A SparkSession with master ${existing.sparkContext.master} " +
              s"is already active; cannot connect to $m from this JVM")
        case None =>
          val s = SparkSession.builder().master(m).getOrCreate()
          new DistributedHandler(s, ownsSession = true, stopOnClose)
      }
  }

  /** Context-manager form (reference `with DistributedHandler(...) as h`). */
  def withHandler[T](master: Option[String] = None)(
      body: DistributedHandler => T): T = {
    val h = apply(master)
    try body(h) finally h.close()
  }
}
