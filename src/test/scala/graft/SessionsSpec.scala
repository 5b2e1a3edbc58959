package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Guards the one-session-factory rule: every session is built by
  * [[Sessions]], with the same confs and extensions. */
class SessionsSpec extends SparkSpec {

  test("the factory is idempotent and installs the shared confs and extensions") {
    val again = Sessions.local(4)
    assert(again eq spark)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.cleaner.periodicGC.interval") == "30s")
    assert(spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
  }

  test("only graft/Sessions.scala calls the session builder") {
    def sources(root: String): Seq[Path] =
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    val builders = (sources("src/main/scala") ++ sources("src/test/scala"))
      .filter(p => Files.readString(p).contains("SparkSession" + ".builder"))
      .map(_.toString).sorted
    assert(builders == Seq(Paths.get("src/main/scala/graft/Sessions.scala").toString))
  }
}
