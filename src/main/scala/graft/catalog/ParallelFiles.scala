package graft.catalog

/** Driver-side parallelism for per-file commit finalization (optimization
  * guide §5: the driver should do almost no data work; §7.3: commit-protocol
  * time shows up as "nothing is running"). Every write path finalizes each
  * written parquet file with a rename plus a footer read (row count +
  * column bounds for the log/manifest stats); done serially that is
  * O(files) × (open + parse footer) of pure driver wall-clock per commit —
  * the dominant cost of partitioned fanout writes (w09 measured a 2.4 s
  * driver gap finalizing ~160 files at sf0.1). The per-file work items are
  * independent (distinct sources, distinct destinations; Hadoop FileSystem
  * instances are thread-safe), so a bounded pool collapses the wall-clock
  * to O(files / threads) while results return in INPUT order — commit and
  * manifest row order stays exactly what the serial loop produced. The
  * same pools run a statement's independent write jobs concurrently
  * (MERGE data/change/tombstone writes, DV UPDATE's descriptor and image
  * passes): each call opens a fresh pool whose threads inherit the
  * caller's job group, and this is the one place the catalog builds one. */
private[catalog] object ParallelFiles {

  private val threads = 32

  def mapOrdered[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.lengthCompare(2) < 0) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(threads, items.length))
    try {
      val futs = items.map { a =>
        pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) })
      }
      futs.map { fut =>
        try fut.get()
        catch {
          // surface the worker's own exception (IcebergReadException /
          // DeltaReadException semantics unchanged), not the wrapper
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdownNow()
  }

  /** `a` and `b` concurrently, each on its own pool thread. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = mapOrdered(Seq[() => Either[A, B]](() => Left(a), () => Right(b)))(_())
    (r.head.left.toOption.get, r(1).toOption.get)
  }
}
