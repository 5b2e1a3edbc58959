package graft.operators

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.ml.SparkActivity

/** Contract of the one artifact store: the memoized materialization
  * slots — in particular the lineage-cut [[PersistSlots.cachedCheckpoint]]
  * variant q33_triangles relies on to keep its edge-build shuffle files
  * reclaimable (Graphs.scala; BENCH_NOTES r8) — and the value memo, whose
  * single clear() makes every operator's next call cold. */
class PersistSlotsSpec extends SparkSpec {

  private def shuffleBuild() = {
    import spark.implicits._
    (1 to 1000).toDF("x")
      .groupBy(col("x") % 7 as "k").agg(sum("x").as("s")) // forces an exchange
  }

  test("cachedCheckpoint memoizes per key and preserves the built values") {
    var builds = 0
    def build = { builds += 1; shuffleBuild() }
    val key = s"spec-ckpt-${System.nanoTime()}"
    val a = PersistSlots.cachedCheckpoint(spark, key)(build)
    val b = PersistSlots.cachedCheckpoint(spark, key)(build)
    assert(builds == 1, "second call must serve the memoized frame")
    assert(a eq b)
    val expect = shuffleBuild().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == expect)
  }

  test("cachedCheckpoint cuts lineage: the served plan is a scan, not the build") {
    // the point of the variant — the consumer's plan must NOT reference
    // the build's exchanges (a reachable ShuffleDependency pins its
    // shuffle files on disk for the consumer job's whole runtime)
    val key = s"spec-ckpt-lineage-${System.nanoTime()}"
    val df = PersistSlots.cachedCheckpoint(spark, key)(shuffleBuild())
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"checkpointed frame still carries its build exchanges:\n$plan")
    // the plain cached() variant intentionally KEEPS lineage (recompute
    // safety); pin the difference so a refactor can't silently swap them
    val key2 = s"spec-persist-lineage-${System.nanoTime()}"
    val df2 = PersistSlots.cached(spark, key2)(shuffleBuild())
    val analyzed2 = df2.queryExecution.analyzed.toString
    assert(analyzed2.contains("Aggregate") || analyzed2.contains("Project"),
      s"persisted frame lost its logical build lineage:\n$analyzed2")
    PersistSlots.clear()
  }

  test("reliable-checkpoint mode: a configured checkpoint dir switches to durable blocks, same scan-only plan") {
    // VERDICT r8 #2 — the cluster-deployment mode: with a checkpoint dir
    // set, cachedCheckpoint must use reliable checkpoint() (blocks in
    // the shared store survive executor loss) and still serve a plan
    // with zero exchanges; without one, the single-box localCheckpoint
    // default (covered above). Both modes must return the same values.
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val expect = shuffleBuild().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    spark.sparkContext.setCheckpointDir(ckptDir)
    try {
      val key = s"spec-ckpt-reliable-${System.nanoTime()}"
      val df = PersistSlots.cachedCheckpoint(spark, key)(shuffleBuild())
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"reliable-checkpointed frame still carries its build exchanges:\n$plan")
      assert(df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == expect)
      // durable evidence: the checkpoint actually landed in the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode must write checkpoint blocks to the configured dir")
    } finally {
      // scrub (best-effort): later suites in this shared session should
      // get the local default back. SparkContext has no unset API; the
      // private var's setter is reachable reflectively. If the reset
      // ever stops working the only effect is other suites running the
      // (equally correct, durable) reliable mode.
      spark.sparkContext.getClass.getMethods
        .find(_.getName == "checkpointDir_$eq")
        .foreach(_.invoke(spark.sparkContext, Option.empty[String]))
      PersistSlots.clear()
      Files.walk(Paths.get(ckptDir)).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  test("memo builds once when 8 threads ask for one key together") {
    val key = s"spec-memo-${System.nanoTime()}"
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          go.await()
          PersistSlots.memo(spark, key) { builds.incrementAndGet(); Thread.sleep(200); 42 }
        }
      }))
      go.countDown()
      assert(calls.map(_.get(60, TimeUnit.SECONDS)) == Seq.fill(8)(42))
      assert(builds.get == 1, s"the build ran ${builds.get} times")
    } finally pool.shutdownNow()
  }

  test("after ArtifactCaches.clear() a second pcaTopK runs its PCA fit again") {
    ArtifactCaches.clear()
    val cold = SparkActivity.of(spark)(Similarity.pcaTopK(spark, sf))
    val warm = SparkActivity.of(spark)(Similarity.pcaTopK(spark, sf))
    ArtifactCaches.clear()
    val again = SparkActivity.of(spark)(Similarity.pcaTopK(spark, sf))
    // the fit (corpus count + second-moment treeAggregate) and the
    // projected-corpus slot run when the operator is built; warm, neither
    assert(warm.jobs < cold.jobs, s"a warm pcaTopK ran ${warm.jobs} jobs, a cold one ${cold.jobs}")
    assert(again.jobs == cold.jobs,
      s"after clear() pcaTopK ran ${again.jobs} jobs, the first cold call ${cold.jobs}")
  }

  test("clear() unpersists a memoized IvfIndex's assignments") {
    val idx = Similarity.ivfIndexFor(spark, sf)
    assert(idx.assignments.storageLevel != StorageLevel.NONE)
    ArtifactCaches.clear()
    assert(idx.assignments.storageLevel == StorageLevel.NONE)
  }

  test("PersistSlots.scala is the only main source with a memo map") {
    val withMaps = Files.walk(Paths.get("src/main/scala/graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val src = Files.readString(p)
        src.contains("TrieMap") || src.contains("ConcurrentHashMap")
      }
      .map(_.toString).toSeq.sorted
    assert(withMaps == Seq(Paths.get("src/main/scala/graft/operators/PersistSlots.scala").toString))
  }
}
