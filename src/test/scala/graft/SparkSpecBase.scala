package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs — small parallelism/shuffle
  * settings keep tiny-DataFrame tests fast. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session

  private val temps = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted with its contents after the suite. */
  def tempDir(prefix: String): Path = keep(Files.createTempDirectory(prefix))

  /** A fresh temp file, deleted after the suite. */
  def tempFile(prefix: String, suffix: String): Path = keep(Files.createTempFile(prefix, suffix))

  private def keep(p: Path): Path = { temps.add(p); p }

  override def afterAll(): Unit =
    try temps.forEach(p => FileUtils.deleteQuietly(p.toFile))
    finally super.afterAll()

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
    .config("spark.sql.warehouse.dir", warehouse)
    .getOrCreate()

  /** The test JVM's warehouse directory, deleted when the JVM exits. */
  private lazy val warehouse: String = {
    val d = Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(d))
    d.toString
  }
}
