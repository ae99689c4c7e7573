package graft

import org.apache.spark.sql.SparkSession

/** The one session factory behind every entry point (Bench, Verify,
  * the streaming mains). When launched via spark-submit the submitted
  * master/conf win untouched; standalone (tests, local runs) it falls
  * back to local[SPARK_GRAFT_CPUS] with the engine's local tuning
  * (shuffle partitions = cores, AQE, UTC, no UI). */
object Sessions {
  /** Entries in Spark's JVM-wide generated-code cache (static conf
    * `spark.sql.codegen.cache.maxEntries`, default 100). A rotation of
    * short queries over the same tables needs more than 100 classes,
    * so at the default every pass recompiles most of them. One full
    * sf0.001 pass over the registry compiles 7,262 classes; a single
    * query needs a median of 13, p90 34, at most 75. At about 50 KB of
    * heap per class, 1000 entries hold many queries' working sets for
    * at most ~50 MiB. The cache is sized once per JVM, by the first
    * session that generates code. */
  val CodegenCacheEntries: Int = 1000

  /** The engine's static settings, fixed once per JVM: the codegen
    * cache size above, and the local filesystem for the `file` scheme
    * (`FileSystem` and FileContext) that does not fork `chmod` and
    * `readlink` per file (`LocalFs.scala`). Hadoop caches `FileSystem`
    * instances JVM-wide and not by conf, so every session in a JVM
    * (this factory's and the specs') must set the same values or the
    * class under test would depend on which session came first. */
  val StaticSettings: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  /** Apply [[StaticSettings]]; as with the extensions, a value already
    * submitted (spark-submit system property) wins. */
  def withStaticSettings(b: SparkSession.Builder): SparkSession.Builder = {
    for ((k, v) <- StaticSettings if !sys.props.contains(k)) b.config(k, v)
    b
  }

  def build(app: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the engine's SQL functions ride every session this factory
    // builds; APPEND to (never clobber) extensions a spark-submit
    // already configured. Static conf — only effective for the session
    // that actually getOrCreate()s the context, like the master below.
    val ext = sys.props.get("spark.sql.extensions")
      .filter(_.nonEmpty)
      .map(e => if (e.contains("graft.GraftExtensions")) e
                else e + ",graft.GraftExtensions")
      .getOrElse("graft.GraftExtensions")
    val b = withStaticSettings(SparkSession.builder().appName(app)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", ext))
    // spark-submit sets the spark.master system property — only pick a
    // master when none was submitted. The local-mode tuning (shuffle
    // width = cores, UI off) applies ONLY when that master is actually
    // local[*]: SPARK_MASTER pointing at a real cluster must not get a
    // 4-wide shuffle and no UI.
    if (!sys.props.contains("spark.master")) {
      val master = sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]")
      b.master(master)
      if (master.startsWith("local")) {
        b.config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.ui.enabled", "false")
      }
    }
    b.getOrCreate()
  }
}
