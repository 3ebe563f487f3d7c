package graft

import org.apache.spark.sql.SparkSession

/** Where every graft session is built. */
object GraftSessions {
  /** The one session every entry point runs on: `local[n]` with n
    * shuffle partitions, where n is `SPARK_GRAFT_CPUS` when set and
    * every available core otherwise; UTC session time zone, no UI,
    * `file:` on [[graft.io.LocalFs]], `WARN` logging. Extensions are not installed here — callers that
    * need the graft optimizer rules wrap the result in [[withExtensions]].
    * Returns the running session if one already exists. */
  def local(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A session with graft.GraftExtensions over the SAME SparkContext.
    * `getOrCreate` alone would return the already-running default session
    * (ignoring the extensions conf), so clear default/active first and
    * restore the shared session as default afterwards. */
  def withExtensions(shared: SparkSession): SparkSession = synchronized {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master(shared.sparkContext.master)
      // conf-string extensions (`spark.sql.extensions=graft.GraftExtensions`)
      // only load when the builder creates the FIRST session of the JVM;
      // over an existing context the programmatic form applies them
      .withExtensions(new graft.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }
}
