package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * Sized for the test harness (local[32], single JVM) but every setting is
  * cluster-safe: shuffle partitions are overridable, AQE handles runtime
  * re-planning (skew joins, partition coalescing) on a real cluster.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, read once: the core count the mains size their
    * local master and shuffle partitions by.
    */
  private[graft] val cpusSetting: Option[Int] = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
  val cpus: Int = cpusSetting.getOrElse(32)

  def builder(master: String = s"local[$cpus]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      // events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
      // rejects ([PARQUET_TYPE_ILLEGAL]). Read nanos as epoch-nano longs and
      // convert to micros in Tables.events (truncation — same as DuckDB's
      // TIMESTAMP_NS -> TIMESTAMP cast, so oracles agree).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Object-store (S3-compatible) configuration surface — the Spark
    * equivalent of the reference's httpfs credentials block
    * (`create_enhanced_views.py:16-33` sets s3_endpoint / s3_access_key_id /
    * s3_secret_access_key / s3_url_style=path for a MinIO-style store).
    *
    * Conf-only by design: the sandbox has no network, so this maps the
    * reference's knobs onto the standard `fs.s3a.*` Hadoop properties and
    * nothing more. On a real cluster, apply to a session and every
    * `spark.read.parquet("s3a://bucket/...")` in the engine works unchanged
    * — all sources take a directory string, never a scheme-specific path.
    *
    * @param pathStyle  true = path-style URLs (MinIO/httpfs `s3_url_style=
    *                   path`); false = virtual-hosted (AWS default)
    * @param ssl        connect over TLS; defaults TRUE to match the
    *                   reference (`resources.py:170` sets
    *                   `s3_use_ssl: "true"`) — an unset S3_USE_SSL must
    *                   not silently downgrade the TLS posture
    */
  case class ObjectStoreConf(endpoint: String,
                             accessKey: String,
                             secretKey: String,
                             pathStyle: Boolean = true,
                             ssl: Boolean = true) {
    // Migration guard (the ssl default flipped false→true in r16 to match
    // resources.py:170): a plain-HTTP endpoint with TLS enabled can only
    // be a broken combination — either the endpoint URL or S3_USE_SSL is
    // stale from a pre-flip deployment. Warn loudly rather than fail:
    // s3a ignores the URL scheme when connection.ssl.enabled is set, so
    // the connect error downstream would not name the real cause.
    if (ssl && endpoint.startsWith("http://"))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ObjectStoreConf: endpoint '$endpoint' is plain HTTP but ssl=true " +
          "(the default since the S3_USE_SSL flip — see README §Object " +
          "store); set S3_USE_SSL=false for plain-HTTP MinIO deployments")

    /** The `fs.s3a.*` Hadoop properties this conf denotes. */
    def hadoopProps: Map[String, String] = Map(
      "fs.s3a.endpoint" -> endpoint,
      "fs.s3a.access.key" -> accessKey,
      "fs.s3a.secret.key" -> secretKey,
      "fs.s3a.path.style.access" -> pathStyle.toString,
      "fs.s3a.connection.ssl.enabled" -> ssl.toString,
      // httpfs-parity: static creds, not instance-profile chains
      "fs.s3a.aws.credentials.provider" ->
        "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider")

    /** Apply to a live session's Hadoop configuration (cluster-wide for
      * executors launched after; for submit-time scope use `applyTo` on
      * the builder instead). */
    def applyTo(spark: SparkSession): SparkSession = {
      hadoopProps.foreach { case (k, v) =>
        spark.sparkContext.hadoopConfiguration.set(k, v)
      }
      spark
    }

    /** Apply at build time (preferred: reaches executors via
      * `spark.hadoop.*` conf propagation). */
    def applyTo(b: SparkSession.Builder): SparkSession.Builder =
      hadoopProps.foldLeft(b) { case (bb, (k, v)) =>
        bb.config("spark.hadoop." + k, v)
      }
  }

  object ObjectStoreConf {
    /** Read from the environment using the reference's variable names
      * (`resources.py:203-342` reads S3_ENDPOINT / S3_ACCESS_KEY_ID /
      * S3_SECRET_ACCESS_KEY); None when no endpoint is configured. */
    def fromEnv(env: Map[String, String] = sys.env): Option[ObjectStoreConf] =
      env.get("S3_ENDPOINT").map { ep =>
        ObjectStoreConf(
          endpoint = ep,
          accessKey = env.getOrElse("S3_ACCESS_KEY_ID", ""),
          secretKey = env.getOrElse("S3_SECRET_ACCESS_KEY", ""),
          pathStyle = env.getOrElse("S3_URL_STYLE", "path") == "path",
          ssl = env.get("S3_USE_SSL").map(parseBool(_, "S3_USE_SSL"))
            .getOrElse(true))
      }

    /** Tolerant env-var boolean: accepts true/false/1/0/yes/no/on/off,
      * case-insensitively — `"1"` must not throw where a shell script
      * would mean "enabled". Unrecognized values fail loud with the
      * variable name rather than a bare IllegalArgumentException. */
    private[graft] def parseBool(s: String, name: String): Boolean =
      s.trim.toLowerCase match {
        case "true" | "1" | "yes" | "on"  => true
        case "false" | "0" | "no" | "off" => false
        case other =>
          throw new IllegalArgumentException(
            s"$name: cannot parse '$other' as a boolean (expected true/false/1/0/yes/no/on/off)")
      }
  }
}
