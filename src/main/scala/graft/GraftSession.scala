package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The engine's standard session: graft's Catalyst extensions, shuffle
  * parallelism matched to cores (32 shuffle partitions at local[32], not
  * the 200 default sized for real clusters), UTC, AQE left ON (default in
  * Spark 4 — runtime coalescing + skew-join splitting). On a real cluster
  * the same builder applies with `master` unset and
  * `spark.sql.shuffle.partitions` sized to ~2-3× total cores.
  * `extraConfs` (applied last, so they can override the defaults) lets a
  * caller shape the session for its workload — e.g. the bench caps
  * `spark.memory.storageFraction` so cached blocks can't squeeze execution
  * memory on a loaded host. */
object GraftSession {
  def build(cpus: Int, appName: String = "graft",
            extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // 64 MB broadcast budget (vs the 10 MB default sized for small
      // executors): mid-size dimension/side tables — e.g. the per-doc
      // hash-set table feeding dedup verification — become map-side
      // lookups instead of sort-merge joins that shuffle wide array rows.
      // Executors with tens of GB (this image, and any realistic 100 TB
      // cluster) hold a 64 MB broadcast comfortably.
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConfs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    // Unpartitioned windows warn "No Partition Defined" ~500 times a Verify
    // run; each is a bounded tail, and SparkEntrySpec's inventory fails on
    // a new one.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec",
      Level.ERROR)
    spark
  }
}
