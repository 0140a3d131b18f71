package graft.handler

import org.apache.spark.sql.functions._

import graft.Q

/** The one oracle-gated entry for the reference-surface façade (§2.1):
  * every other section of SURVEY §2 hash-gates through the driver, and
  * the handler should too, not just spec-cover. `handler_map` runs the
  * reference's n-ary `client.map(f, it1, it2)` shape through [[DistributedHandler.mapN]]
  * (positional chunks zipped in the task — the arity-generic path) over
  * two generated 1000-element iterables, then aggregates the mapped values
  * so the result is order-insensitive (the reference's own tests compare
  * map results order-insensitively: tests/test_distributed_handler.py).
  * The DuckDB mirror states f and the aggregation directly over
  * `range()` — integer arithmetic end-to-end, nothing to drift.
  */
object HandlerQueries {

  private val N = 1000L

  private val handlerMap = Q(
    "handler_map",
    (s, dir) => {
      import s.implicits._
      val as: Seq[Any] = (0L until N).toSeq
      val bs: Seq[Any] = (N until 2 * N).toSeq
      val h = DistributedHandler()
      h.mapN(Seq(as, bs)) { args =>
          val a = args(0).asInstanceOf[Long]
          val b = args(1).asInstanceOf[Long]
          (a % 7, a * 3 + b)
        }
        .toDF("g", "v")
        .groupBy("g")
        .agg(sum("v").as("fx_sum"), count(lit(1)).as("n"))
        .orderBy("g")
    },
    Some(s"""SELECT (i % 7)::BIGINT AS g,
      SUM(i * 3 + ($N + i))::BIGINT AS fx_sum,
      COUNT(*)::BIGINT AS n
    FROM range(0, $N) t(i)
    GROUP BY 1 ORDER BY g"""))

  /** The reference's OTHER headline API under the hash gate:
    * `batched_map(f, seq, batch_size)` — the bounded-scheduler chunked
    * map (distributed_handler.py:93, the dask/distributed#2181
    * workaround that is the library's whole reason to exist). A small
    * batch_size forces the many-batch path (ceil(N/bs) = 40 contiguous
    * slices, one task each, for N=1000, bs=25), f is a
    * conditional integer transform, and the result aggregates
    * order-insensitively (the reference's own test convention —
    * batching must never change WHAT is computed, only how many tasks
    * hold it). The DuckDB mirror states f and the aggregation directly
    * over `range()` — integer arithmetic end-to-end.
    */
  private val handlerBatched = Q(
    "handler_batched_map",
    (s, dir) => {
      import s.implicits._
      val h = DistributedHandler()
      h.batchedMap((0L until N).toSeq, batchSize = 25) { x =>
          val fx = if (x % 3 == 0) x * x else x + 100
          (x % 5, fx)
        }
        .toDF("g", "fx")
        .groupBy("g")
        .agg(sum("fx").as("fx_sum"), max("fx").as("fx_max"),
          count(lit(1)).as("n"))
        .orderBy("g")
    },
    Some(s"""SELECT (i % 5)::BIGINT AS g,
      SUM(CASE WHEN i % 3 = 0 THEN i * i ELSE i + 100 END)::BIGINT
        AS fx_sum,
      MAX(CASE WHEN i % 3 = 0 THEN i * i ELSE i + 100 END)::BIGINT
        AS fx_max,
      COUNT(*)::BIGINT AS n
    FROM range(0, $N) t(i)
    GROUP BY 1 ORDER BY g"""))

  val all: Seq[Q] = Seq(handlerMap, handlerBatched)
}
