package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. The suite-level `spark` stays a
  * lazy val (a stable identifier — `import spark.implicits._` needs
  * one), initialized at the suite's FIRST use; `SparkSpec.session`
  * itself re-resolves instead of caching forever, because
  * ExtensionsSpec legitimately stops the JVM-wide SparkContext (it
  * must build sessions WITH extensions, and getOrCreate would
  * otherwise hand back one without them), and which suites run after
  * it depends on sbt's discovery order — which changes whenever a
  * suite is added. A permanently cached dead session turns that
  * reordering into mass failures; rebuilding on a stopped context
  * keeps every suite's first access live. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  /** Hand-written text fixtures under src/test/resources: the
    * four-file `TestInverted` corpus (3.txt is Portuguese, with
    * multi-byte accented letters) and a multi-line `test.txt`. */
  val fixtureDir: String =
    new java.io.File(getClass.getResource("/test.txt").toURI).getParent
}

object SparkSpec {
  private var cached: SparkSession = null
  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      cached = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_wh").toString)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      cached.sparkContext.setLogLevel("ERROR")
    }
    cached
  }
}
