package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs — small parallelism/shuffle
  * settings keep tiny-DataFrame tests fast. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session

  /** Runs `body` with the session confs `kv` set, restoring them after. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Registers `body` twice: as `name` at the session's broadcast
    * threshold, and as `name [distributed]` with the threshold off —
    * the two sides of the driver/distributed size gate of the graph
    * operators (graft.operators.SmallGraph). */
  def bothGateSides(name: String)(body: => Any): Unit = {
    test(name)(body)
    test(s"$name [distributed]")(
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body))
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
