package graft.harness

/** Bounded fan-out for independent model fits inside one SparkSession.
  *
  * Spark's scheduler happily interleaves jobs submitted from multiple
  * driver threads, and a hyperparameter sweep's configs are independent by
  * construction — running them serially leaves the cluster idle during
  * every fit's synchronization barriers. Each task still produces exactly
  * the result it would serially (seeded fits are deterministic given data
  * and partitioning; thread interleaving changes only job ordering), which
  * the registry walk's double-run check (RegistryAuditSpec) continues to
  * enforce for the sweep queries. Width stays small: each ALS/LR fit already parallelizes its
  * own stages — fan-out covers barrier idle time, it must not oversubscribe
  * the scheduler.
  */
object Par {
  def inParallel[A, B](xs: Seq[A], width: Int)(f: A => B): Seq[B] = {
    if (xs.lengthCompare(1) <= 0 || width <= 1) xs.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(width, xs.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
      finally { pool.shutdown() }
    }
  }
}
