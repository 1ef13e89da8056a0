package graft.sinks

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.DataFrame

/** Loader surface — the reference's single-process buffered writers
  * re-expressed as partition-parallel Spark writes.
  *
  * The reference guards each loader against concurrent callers
  * (CSV_FileLoader, /root/reference v2/core/loaders/files.py:44) and
  * fans out through a hand-built LoadBalanceLoader (loadbalancer.py).
  * In Spark every partition writes in parallel by construction, and
  * `repartition(n)` IS the load balancer.
  */
object Sinks {

  /** CSV_FileLoader analog (v2/core/loaders/files.py:11): partitioned
    * CSV write — n files, not one buffered handle.
    */
  def csv(df: DataFrame, path: String, sep: String = ";", header: Boolean = true): Unit =
    df.write.mode("overwrite").option("sep", sep).option("header", header.toString).csv(path)

  /** MySQL_DBLoader analog (v2/core/loaders/mysql.py:10): Spark's JDBC
    * writer already does batched inserts (`batchsize`) with one
    * connection per partition — the buffer/reconnect machinery of the
    * reference is the driver's job here.
    */
  def jdbc(df: DataFrame, url: String, table: String,
      properties: java.util.Properties = new java.util.Properties(),
      batchSize: Int = 1000, numPartitions: Option[Int] = None,
      mode: String = "append"): Unit = {
    val base = numPartitions.map(df.repartition(_)).getOrElse(df)
    // append is the reference loader's semantics (each run inserts its
    // batch); pass mode="overwrite" for idempotent re-runs — the config
    // surface exposes it for exactly that
    base.write.mode(mode)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, properties)
  }

  /** ConditionalLoader analog (v2/core/loaders/commons.py:67). */
  def conditional(condition: => Boolean)(df: DataFrame)(sink: DataFrame => Unit): Unit =
    if (condition) sink(df)

  /** LoadBalanceLoader analog (v2/core/loaders/loadbalancer.py): level
    * the write parallelism, then any sink runs n-wide.
    *
    * Row order is not preserved: `repartition(n)` deals rows round-robin.
    * For `n > 1` a global sort directly under it (`df.orderBy(...)`) is
    * therefore dropped from the plan by
    * [[graft.plans.DropSortUnderRoundRobin]]. When the written order
    * matters, sort inside `sink` (`sortWithinPartitions`) or use `n = 1`.
    */
  def loadBalanced(df: DataFrame, n: Int)(sink: DataFrame => Unit): Unit =
    sink(df.repartition(n))

  /** NoopLoader analog (v2/core/loaders/commons.py:40): materialize and
    * drop — used to force a plan for its side effects/metrics.
    */
  def noop(df: DataFrame): Long = df.count()

  /** Small-files compaction: size the output file count from the
    * plan's size estimate so each parquet file lands near
    * `targetBytes`. The operational chore every long-running 100 TB
    * lake needs — streaming ingest and fine-grained partitions breed
    * thousands of KB-sized files whose open/footer overhead dominates
    * scans; rewriting at ~128 MB restores scan efficiency. Returns the
    * chosen file count (estimates come from Catalyst statistics, so
    * they are approximate — the invariant is the ORDER of magnitude,
    * pinned by the spec).
    */
  def compactParquet(df: DataFrame, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val estimated = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((estimated + targetBytes - 1) / targetBytes).toInt.max(1)
    df.repartition(n).write.mode("overwrite").parquet(path)
    n
  }

  /** Generic per-partition writer with the reference loader lifecycle
    * (connect → buffered load → flush/close; v2/core/loaders/commons.py:10).
    * This is the Cassandra_DBLoader-shaped extension point: any store
    * with a java.sql driver — or, adapted, any session-per-partition
    * client — plugs in here without touching the plan.
    *
    * Connect retry (the reference's reconnect loop, commons.py): a
    * transient refusal at connection time — a node restarting behind a
    * load balancer is routine on a 1000-executor write — retries with
    * exponential backoff up to `connectRetries` before surfacing, at
    * which point Spark's own task retry takes over. Retrying only the
    * CONNECT is deliberately conservative: a failure mid-batch leaves
    * unknown server state, and replaying there without idempotent
    * upserts would double-insert — that path correctly fails the task.
    * The whole lifecycle (handshake, ≤batchSize batches, commits,
    * refused-then-retried connects) is proven against a real TCP
    * socket in SocketJdbcSinkSpec, not only in-JVM Derby.
    */
  def foreachPartitionJdbc(df: DataFrame, url: String, insertSql: String, batchSize: Int = 1000,
      connectRetries: Int = 3, retryBackoffMs: Long = 100L): Unit =
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      def connect(attempt: Int): Connection =
        try DriverManager.getConnection(url)
        catch {
          // NonFatal, not just SQLException (ADVICE r12): a driver that
          // surfaces connection refusal as an unwrapped IOException/
          // RuntimeException (non-compliant but seen in the wild) must
          // hit the same backoff. Connect-only retry stays safe under
          // the broader guard — no server state exists before the
          // handshake completes, so a retried connect can't double-apply
          // anything.
          case scala.util.control.NonFatal(_) if attempt < connectRetries =>
            Thread.sleep(retryBackoffMs * (1L << attempt))
            connect(attempt + 1)
        }
      val conn: Connection = connect(0)
      try {
        conn.setAutoCommit(false)
        val stmt = conn.prepareStatement(insertSql)
        var n = 0
        rows.foreach { r =>
          (0 until r.length).foreach(i => stmt.setObject(i + 1, r.get(i)))
          stmt.addBatch()
          n += 1
          if (n % batchSize == 0) { stmt.executeBatch(); conn.commit() }
        }
        stmt.executeBatch(); conn.commit(); stmt.close()
      } finally conn.close()
    }
}
