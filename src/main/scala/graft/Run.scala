package graft

import org.apache.spark.sql.DataFrame

/** The one way a driver main runs a query. Bench, SpotBench and Verify all
  * go through [[once]], so every query in every main is timed, released
  * and compacted the same way.
  */
object Run {

  /** Build `query`'s plan, run `action` on it, and time both. A throw
    * (from building or from running) is logged to stderr and returned as
    * `Left(message)`, or the exception's class name when it has no message.
    * Either way the operator caches are released and the heap compacted
    * afterwards, outside the timed region.
    */
  def once[A](name: String, query: => DataFrame)(
      action: DataFrame => A): Either[String, (A, Double)] = {
    val t0 = System.nanoTime()
    try {
      val out = action(query)
      Right((out, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Throwable =>
        System.err.println(s"[run] $name failed: $e")
        e.printStackTrace()
        Left(Option(e.getMessage).getOrElse(e.getClass.getName))
    } finally {
      // BLOCKING release: async unpersist (the default) lets the
      // warm-up run's cached blocks — at sf10/q181 that is ~GBs of
      // shingle arrays — stay resident into the adjacent measured
      // run, whose old-gen pressure then makes the SECOND run slower
      // than the first (r11 §4: 321.8 → 501.1 s). Waiting here is
      // untimed by construction.
      llm.CacheScope.releaseAll(blocking = true)
      // Untimed heap compaction BETWEEN queries: ~190 sequential query
      // executions in one JVM let old-gen pressure from earlier queries
      // inflate later ones (r6 recorded q45 at 23.5 s in the marathon vs
      // 5.4 s isolated at the same SF — the operator scales ×3.8 at ×10
      // data, the other ×4 was inherited heap state). A real cluster
      // gives each job fresh executors; this biases each query's wall
      // time to its own work. Runs after timing capture — never counted.
      System.gc()
    }
  }

  /** Force FULL computation of every output column and keep nothing —
    * count() would let the optimizer strip projections and sorts and
    * time little more than the scan.
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
