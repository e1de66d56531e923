package graft.cli

import graft.Sessions
import graft.functions.AvroCodec
import graft.ingest.{SchemaRegistry, Transformers}

/** CLI entry point mirroring the reference's main
  * (/root/reference/syslog.go:133-143): parse flags, validate, run
  * syslog-listener → transform → Kafka pipeline until terminated.
  *
  * The Kafka sink requires the spark-sql-kafka connector on the
  * cluster classpath (standard Spark distribution); `--dry-run` stops
  * after printing the resolved plan/options, which is what CI here
  * exercises (this container ships no Kafka broker or connector jar).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val dryRun = args.contains("--dry-run")
    val conf = Config.parse(args.filterNot(_ == "--dry-run")) match {
      case Left(err) => System.err.println(s"error: $err"); sys.exit(2)
      case Right(c) => c
    }
    Config.validate(conf) match {
      case Left(err) => System.err.println(s"error: $err"); sys.exit(2)
      case Right(_) =>
    }

    val spark = Sessions.local()
    // fromSyslog converts the source's TIMESTAMP column to the epoch-ms
    // long the wire codecs encode (feeding TimestampType straight in
    // would silently serialize Catalyst micros — 1000× the reference)
    val source = Transformers.fromSyslog(
      spark.readStream.format("graft-syslog")
        .options(Config.sourceOptions(conf))
        .load())

    val value = conf.pattern match {
      case "avro" =>
        // dry-run must not touch live services; 0 stands in for the id
        val schemaId =
          if (dryRun) 0
          else SchemaRegistry.register(conf.registryUrl.get,
            "logLine-value", AvroCodec.schemaJson)
        Transformers.avro(conf.tags, conf.logTypeId, schemaId)
      case "proto" => Transformers.proto(conf.tags, conf.logTypeId)
      case _ => Transformers.plain(source)
    }
    // Time-derived landing partition for the parquet sink
    // (--sink.partition.by): hive-style hour/day directories from the
    // syslog timestamp — the standard landing-zone layout, so downstream
    // batch queries prune to the hours they touch instead of scanning
    // the whole firehose (at 100 TB/day the difference between reading
    // one hour and reading a day per incremental job).
    import org.apache.spark.sql.functions.{col, date_format, timestamp_millis}
    val partCol = conf.sinkPartitionBy match {
      case "hour" => Some(date_format(
        timestamp_millis(col("timestamp")), "yyyy-MM-dd-HH"))
      case "day" => Some(date_format(
        timestamp_millis(col("timestamp")), "yyyy-MM-dd"))
      case _ => None
    }
    // producer pool (O18): --num.producers write tasks per micro-batch.
    // The default pool of 1 costs no shuffle for a batch the source
    // reads as one partition (≤ 65,536 rows): the exchange is removed
    // by graft.plans.OnePartitionRepartition. Larger batches and larger
    // pools keep it.
    val base = source.repartition(conf.numProducers)
    // land-compact: land UNPARTITIONED at full sink speed, carrying the
    // raw epoch-ms timestamp so a periodic `graft.ingest.Compact` batch
    // run folds closed windows into hive hour/day partitions downstream
    // (BASELINE.md round 9: 4.9× the hour-partitioned sink's same-day
    // end-to-end ceiling).
    val out = (partCol, conf.sinkPartitionBy) match {
      case (Some(p), _) => base.select(value, p.as("ingest_part"))
      case (None, "land-compact") => base.select(value, col("timestamp"))
      case _ => base.select(value)
    }

    if (dryRun) {
      out.explain("extended")
      if (conf.sinkFormat == "kafka")
        println(s"sink options: ${Config.kafkaSinkOptions(conf)}")
      else
        println(s"sink: parquet path=${conf.sinkPath.get} " +
          s"partitionBy=${conf.sinkPartitionBy}")
      spark.stop()
      return
    }

    val writer = conf.sinkFormat match {
      case "parquet" =>
        val w = out.writeStream.format("parquet")
          .option("path", conf.sinkPath.get)
          .option("checkpointLocation",
            s"${conf.sinkPath.get}/_graft_ckpt")
        if (partCol.isDefined) w.partitionBy("ingest_part") else w
      case _ =>
        out.writeStream
          .format("kafka")
          .options(Config.kafkaSinkOptions(conf))
          .option("checkpointLocation",
            s"/tmp/graft-syslog-ckpt-${conf.topic}")
    }
    val query = writer.start()
    sys.addShutdownHook(query.stop()) // SIGINT → graceful stop (O19)
    query.awaitTermination()
  }
}
