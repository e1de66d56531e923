package graft.cli

/** CLI configuration mirroring the reference's flags and validation
  * (/root/reference/syslog.go:76-131), mapped onto the Spark pipeline:
  * syslog source options + transformer choice + Kafka sink options.
  */
case class GraftConfig(
  brokerList: String = "",                  // --broker.list (required)
  topic: String = "",                       // --topic (required)
  requiredAcks: Int = 1,                    // --required.acks
  acksTimeoutMs: Int = 1000,                // --acks.timeout
  numProducers: Int = 1,                    // --num.producers
  queueSize: Int = 10000,                   // --queue.size
  tcpHost: String = "0.0.0.0",              // --tcp.host
  tcpPort: Int = 5140,                      // --tcp.port
  udpHost: String = "0.0.0.0",              // --udp.host
  udpPort: Int = 5141,                      // --udp.port
  pattern: String = "plain",                // --avro / --proto selector
  registryUrl: Option[String] = None,       // --schema.registry.url
  logTypeId: Option[Long] = None,           // --log.type.id
  tags: Seq[(String, String)] = Nil,        // repeatable --tag k=v
  sinkFormat: String = "kafka",             // --sink.format kafka|parquet
  sinkPath: Option[String] = None,          // --sink.path (parquet sink)
  sinkPartitionBy: String = "none")         // --sink.partition.by none|hour|day|land-compact

object Config {

  /** `--tag k=v` parser: split at the FIRST '=' only, like the
    * reference's tags.Set (/root/reference/syslog.go:49-57) —
    * `k=v=w` → ("k", "v=w"); a missing '=' is an error.
    */
  def parseTag(s: String): Either[String, (String, String)] = {
    val i = s.indexOf('=')
    if (i < 0) Left(s"invalid tag '$s': expected k=v")
    else Right((s.substring(0, i), s.substring(i + 1)))
  }

  /** Flags that take a value: given last with none, they are reported as
    * a missing value rather than as an unknown flag.
    */
  private val valueFlags = Set("--broker.list", "--topic", "--required.acks",
    "--acks.timeout", "--num.producers", "--queue.size", "--tcp.host",
    "--tcp.port", "--udp.host", "--udp.port", "--schema.registry.url",
    "--log.type.id", "--tag", "--sink.format", "--sink.path",
    "--sink.partition.by")

  def parse(args: Seq[String]): Either[String, GraftConfig] = {
    def go(rest: List[String], c: GraftConfig): Either[String, GraftConfig] =
      rest match {
        case Nil => Right(c)
        case "--broker.list" :: v :: t => go(t, c.copy(brokerList = v))
        case "--topic" :: v :: t => go(t, c.copy(topic = v))
        case "--required.acks" :: v :: t => go(t, c.copy(requiredAcks = v.toInt))
        case "--acks.timeout" :: v :: t => go(t, c.copy(acksTimeoutMs = v.toInt))
        case "--num.producers" :: v :: t => go(t, c.copy(numProducers = v.toInt))
        case "--queue.size" :: v :: t => go(t, c.copy(queueSize = v.toInt))
        case "--tcp.host" :: v :: t => go(t, c.copy(tcpHost = v))
        case "--tcp.port" :: v :: t => go(t, c.copy(tcpPort = v.toInt))
        case "--udp.host" :: v :: t => go(t, c.copy(udpHost = v))
        case "--udp.port" :: v :: t => go(t, c.copy(udpPort = v.toInt))
        case "--avro" :: t => go(t, c.copy(pattern = "avro"))
        case "--proto" :: t => go(t, c.copy(pattern = "proto"))
        case "--schema.registry.url" :: v :: t =>
          go(t, c.copy(registryUrl = Some(v)))
        case "--log.type.id" :: v :: t =>
          go(t, c.copy(logTypeId = Some(v.toLong)))
        case "--tag" :: v :: t =>
          parseTag(v).flatMap(kv => go(t, c.copy(tags = c.tags :+ kv)))
        case "--sink.format" :: v :: t => go(t, c.copy(sinkFormat = v))
        case "--sink.path" :: v :: t => go(t, c.copy(sinkPath = Some(v)))
        case "--sink.partition.by" :: v :: t =>
          go(t, c.copy(sinkPartitionBy = v))
        case flag :: Nil if valueFlags(flag) => Left(s"missing value for $flag")
        case other :: _ => Left(s"unknown flag: $other")
      }
    try go(args.toList, GraftConfig())
    catch { case e: NumberFormatException => Left(s"bad number: ${e.getMessage}") }
  }

  /** The reference's validate() rules (/root/reference/syslog.go:93-131):
    * broker.list and topic required; avro requires a registry URL. The
    * producer pool and the source buffer must each be at least 1.
    */
  def validate(c: GraftConfig): Either[String, GraftConfig] =
    if (!Set("kafka", "parquet")(c.sinkFormat))
      Left(s"sink.format must be kafka or parquet, got '${c.sinkFormat}'")
    else if (c.sinkFormat == "kafka" && c.brokerList.isEmpty)
      Left("broker.list is required")
    else if (c.sinkFormat == "kafka" && c.topic.isEmpty)
      Left("topic is required")
    else if (c.sinkFormat == "parquet" && c.sinkPath.isEmpty)
      Left("sink.path is required with --sink.format parquet")
    else if (!Set("none", "hour", "day", "land-compact")(c.sinkPartitionBy))
      Left(s"sink.partition.by must be none, hour, day or land-compact, " +
        s"got '${c.sinkPartitionBy}'")
    else if (c.sinkPartitionBy != "none" && c.sinkFormat != "parquet")
      Left(s"sink.partition.by ${c.sinkPartitionBy} requires " +
        "--sink.format parquet — the kafka writer has no partition " +
        "directories to write, so the mode would be silently ignored")
    else if (c.pattern == "avro" && c.registryUrl.isEmpty)
      Left("schema.registry.url is required with --avro")
    else if (c.requiredAcks < -1) Left("required.acks must be >= -1")
    else if (c.numProducers < 1)
      Left(s"num.producers must be >= 1, got ${c.numProducers}")
    else if (c.queueSize < 1)
      Left(s"queue.size must be >= 1, got ${c.queueSize}")
    else Right(c)

  /** Kafka sink options (O14-O16): CLI flags → `writeStream` options.
    * batch.size/linger mirror the reference accumulator defaults
    * (1000 records / 1s, V:elodina/siesta-producer/kafka_producer.go:58,67);
    * Kafka's batch.size is bytes, so 1000 records ≈ 16 KiB default is kept
    * and linger carries the latency bound.
    */
  def kafkaSinkOptions(c: GraftConfig): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> c.brokerList,
    "topic" -> c.topic,
    "kafka.acks" -> (if (c.requiredAcks == -1) "all" else c.requiredAcks.toString),
    "kafka.linger.ms" -> "1000",
    "kafka.request.timeout.ms" -> c.acksTimeoutMs.toString,
    "kafka.compression.type" -> "none")

  /** `key=value` producer-config file (O21), mirroring
    * ProducerConfigFromFile (V:elodina/siesta-producer/kafka_producer.go:158-205):
    * '#' comments and blank lines skipped, unknown keys passed through as
    * `kafka.`-prefixed sink options.
    */
  def fromFile(lines: Seq[String]): Map[String, String] =
    lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        val i = l.indexOf('=')
        if (i < 0) None else Some(l.substring(0, i).trim -> l.substring(i + 1).trim)
      }.toMap

  /** Merge a producer-config file into sink options: known reference keys
    * map to their Kafka names, the rest pass through verbatim.
    */
  def sinkOptionsFromFile(base: Map[String, String],
                          file: Map[String, String]): Map[String, String] = {
    val mapped = file.collect {
      case ("batch.size", v) => "kafka.batch.size" -> v
      case ("linger", v) => "kafka.linger.ms" -> v
      case ("required.acks", v) =>
        "kafka.acks" -> (if (v == "-1") "all" else v)
      case ("ack.timeout.ms", v) => "kafka.request.timeout.ms" -> v
      case ("metadata.expire.ms", v) => "kafka.metadata.max.age.ms" -> v
      case (k, v) if !Set("batch.size", "linger", "required.acks",
        "ack.timeout.ms", "metadata.expire.ms")(k) => s"kafka.$k" -> v
    }
    base ++ mapped
  }

  /** Syslog source options (O1-O3). */
  def sourceOptions(c: GraftConfig): Map[String, String] = Map(
    "tcp.host" -> c.tcpHost, "tcp.port" -> c.tcpPort.toString,
    "udp.host" -> c.udpHost, "udp.port" -> c.udpPort.toString,
    "maxBufferedRows" -> c.queueSize.toString)
}
