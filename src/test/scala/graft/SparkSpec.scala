package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy val),
  * plus one temporary root per suite: [[tempDir]] makes its directories
  * under it, and `afterAll` deletes it. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  private var root: Option[Path] = None

  private def suiteRoot: Path = synchronized {
    root.getOrElse {
      val r = Files.createTempDirectory(s"graft_${getClass.getSimpleName}_")
      root = Some(r)
      r
    }
  }

  def tempDir(prefix: String): Path =
    Files.createTempDirectory(suiteRoot, prefix)

  override def afterAll(): Unit =
    try root.foreach(SparkSpec.deleteTree) finally super.afterAll()
}

object SparkSpec {

  /** Deletes `r` depth-first without following symlinks, so a link to a
    * fixture never takes the fixture with it. */
  def deleteTree(r: Path): Unit = {
    val all = Files.walk(r)
    try all.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    finally all.close()
  }
}
