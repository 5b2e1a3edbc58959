package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one place a SparkSession is built. Every main and every spec gets
  * its session here, so they all run under the same confs:
  *  - shuffle partitions = threads;
  *  - session time zone UTC (DuckDB compares timestamps at UTC);
  *  - no UI;
  *  - the ContextCleaner's periodic GC every 30 s, not the default 30 min:
  *    the PersistSlots.cachedCheckpoint contract reclaims lineage-cut
  *    builds' shuffle files at driver GC, which must fire inside a run;
  *  - GraftExtensions (the SQL `graft_dot` function);
  *  - log level WARN.
  *
  * Idempotent: a second call returns the session the first one built
  * (`getOrCreate`), so specs sharing one JVM share one session, and
  * whichever suite runs first installs the same extensions.
  */
object Sessions {
  /** @param master a deployment master URL; default `local[threads]` */
  def local(threads: Int, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$threads]"))
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
