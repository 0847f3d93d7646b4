package graft.operators

import java.util.concurrent.{ExecutionException, Executors}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** Per-table Spark jobs run concurrently from the driver.
  *
  * Each call runs under the Spark local properties of the calling thread
  * as they are at the call: job group, description, scheduler pool. A
  * pool thread otherwise keeps the properties it inherited when it was
  * created, so its jobs would carry the job group of whatever ran back
  * then and a listener keyed by job group would misattribute them.
  */
private[graft] object ConcurrentJobs {

  private lazy val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-concurrent-jobs")
    t.setDaemon(true)
    t
  }

  /** `items.map(f)`, each call on its own pool thread; waits for all and
    * rethrows the first failure as thrown. */
  def map[A, B](spark: SparkSession, items: Seq[A])(f: A => B): Seq[B] =
    items.map(a => SQLExecution.withThreadLocalCaptured(spark, pool)(f(a)))
      .map { fut =>
        try fut.get()
        catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
      }
}
