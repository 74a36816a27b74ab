package graft

import org.apache.spark.sql.SparkSession

/** Session factory — the one place the engine's session-level tuning lives,
  * so a user switching from the reference gets the extensions (SQL-visible
  * simhash/minhash/cosine/srp/topk functions) and the settings the operator
  * layer was designed against without copying config.
  *
  * Local-mode defaults mirror the harness; on a cluster pass `master = None`
  * and size `shufflePartitions` ≈ 2-3× total cores. Every knob here is
  * inert-or-right at scale (see SCALING.md "Session defaults").
  */
object Graft {

  /** Pre-configured builder; call `.getOrCreate()` (or override further). */
  def sessionBuilder(
      appName: String = "graft",
      localCores: Option[Int] = Some(4),
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Compute-dense stages (pair generation, LSH verify, tiled cosine)
      // shuffle KBs at test SF; AQE's default 1 MB minPartitionSize floor
      // coalesces them below the core count and serializes the compute.
      // 256k measured best across the 4- and 32-core profiles (64k
      // splinters light stages into scheduling overhead at 32 threads;
      // 1 MB starves 4 cores). At real SF the floor is inert either way.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PART", "256k"))
      .withExtensions(new GraftExtensions)
    val withMaster = localCores.fold(b)(n => b.master(s"local[$n]"))
    shufflePartitions.orElse(localCores).fold(withMaster)(n =>
      withMaster.config("spark.sql.shuffle.partitions", n))
  }

  /** Local session with the harness defaults (shuffle dirs on tmpfs when
    * available — this host's disk stalls; harmless elsewhere).
    */
  def localSession(cores: Int = 4): SparkSession = {
    val shm = new java.io.File("/dev/shm/spark-local")
    val base = sessionBuilder(localCores = Some(cores))
      .config("spark.ui.enabled", "false")
    val withDirs =
      if (shm.exists() || shm.mkdirs()) base.config("spark.local.dir", shm.getPath)
      else base
    val spark = withDirs.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local cores for the diagnostic mains (`SPARK_GRAFT_CPUS`, default 4). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The mains' one query filter: `SPARK_GRAFT_ONLY=q90,q104` keeps the
    * queries whose name starts with one of the comma-separated prefixes;
    * unset keeps every query.
    */
  def only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))
}
