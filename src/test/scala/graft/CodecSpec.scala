package graft

import java.io.ByteArrayInputStream
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{AvroCodec, Fnv1a32}
import graft.ingest.Transformers

/** Wire-format parity tests (SURVEY §5.2/§5.3):
  *  - hand-derived golden byte vectors for the Avro and proto2 encoders
  *    (computed from the public specs, not from this code);
  *  - round-trip of the Avro encoder through the *Apache Avro reference
  *    decoder* (org.apache.avro, an independent implementation) over
  *    randomized records;
  *  - FNV-1a published test vectors;
  *  - tag-flag parser semantics (split at first '=').
  */
class CodecSpec extends AnyFunSuite {

  /** Deterministic ScalaCheck sampling (no scalatestplus bridge in the
    * offline cache): draw n values from a Gen with a fixed seed.
    */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val spark = TestSpark.spark

  private def hex(bs: Array[Byte]): String = bs.map(b => f"$b%02X").mkString

  /** Run the avro_logline expression over a one-row DataFrame. */
  private def avroBytes(line: Option[String], source: Option[String],
                        tags: Seq[(String, String)], ltid: Option[Long],
                        timings: Option[Seq[(String, Long)]]): Array[Byte] = {
    val df = spark.range(1).select(
      lit(line.orNull).cast("string").as("line"),
      lit(source.orNull).cast("string").as("source"),
      (if (tags.isEmpty && line.isEmpty) lit(null) // exercise null map too
       else map(tags.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*))
        .cast("map<string,string>").as("tag"),
      ltid.map(lit(_)).getOrElse(lit(null)).cast("long").as("logtypeid"),
      timings.map(ts => array(ts.map { case (n, v) =>
        struct(lit(n).as("eventName"), lit(v).as("value")) }: _*))
        .getOrElse(lit(null))
        .cast("array<struct<eventName:string,value:bigint>>").as("timings"))
    df.select(call_function("avro_logline",
        struct(col("line"), col("source"), col("tag"), col("logtypeid"),
          col("timings"))).as("v"))
      .head.getAs[Array[Byte]]("v")
  }

  test("avro golden: all-null record is five zero varints") {
    assert(hex(avroBytes(None, None, Nil, None, None)) === "0000000000")
  }

  test("avro golden: hand-derived minimal record") {
    // line="a" source="h" tag={k:v} logtypeid=7 timings=[("received",5)]
    val got = avroBytes(Some("a"), Some("h"), Seq("k" -> "v"), Some(7L),
      Some(Seq("received" -> 5L)))
    val expected =
      "020261" +                 // union 1, len 1, 'a'
      "020268" +                 // union 1, len 1, 'h'
      "0202" + "026B" + "0276" + "00" + // union 1, block 1, "k","v", term
      "020E" +                   // union 1, zigzag(7)=14
      "0202" + "1072656365697665640A" + "00" // union 1, block 1, Timing, term
    assert(hex(got) === expected)
  }

  test("avro: reference decoder round-trips randomized records") {
    val schema = new Schema.Parser().parse(AvroCodec.schemaJson)
    val reader = new GenericDatumReader[GenericRecord](schema)
    val genStr = Gen.alphaNumStr.map(_.take(40))
    val genTags = Gen.listOfN(3, Gen.zip(Gen.identifier.map(_.take(8)), genStr))
      .map(_.distinctBy(_._1).sortBy(_._1))
    val genRec = for {
      line <- Gen.option(genStr)
      source <- Gen.option(genStr)
      tags <- genTags
      ltid <- Gen.option(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      timings <- Gen.option(Gen.listOfN(2, Gen.zip(
        Gen.identifier.map(_.take(8)),
        Gen.chooseNum(Long.MinValue, Long.MaxValue))))
    } yield (line, source, tags, ltid, timings)
    samples(genRec, 25).foreach {
      case (line, source, tags, ltid, timings) =>
        val bytes = avroBytes(line, source, tags, ltid, timings)
        val dec = DecoderFactory.get()
          .binaryDecoder(new ByteArrayInputStream(bytes), null)
        val rec = reader.read(null, dec)
        def str(f: String): Option[String] =
          Option(rec.get(f)).map(_.toString)
        assert(str("line") === line)
        assert(str("source") === source)
        val gotTags = Option(rec.get("tag"))
          .map(_.asInstanceOf[java.util.Map[AnyRef, AnyRef]])
          .map(m => m.entrySet().toArray.map { e =>
            val en = e.asInstanceOf[java.util.Map.Entry[AnyRef, AnyRef]]
            en.getKey.toString -> en.getValue.toString
          }.toSeq.sortBy(_._1))
        // we always emit a (possibly empty) map unless line is also absent
        if (tags.nonEmpty || line.nonEmpty)
          assert(gotTags.map(_.toList) === Some(tags.map {
            case (k, v) => (k, v) }.toList))
        assert(Option(rec.get("logtypeid")).map(_.asInstanceOf[Long]) === ltid)
        val gotTimings = Option(rec.get("timings"))
          .map(_.asInstanceOf[java.util.List[AnyRef]])
          .map(_.toArray.map { o =>
            val r = o.asInstanceOf[GenericRecord]
            (r.get("eventName").toString, r.get("value").asInstanceOf[Long])
          }.toList)
        assert(gotTimings === timings.map(_.toList))
    }
  }

  test("proto golden: hand-derived LogLine bytes") {
    val df = spark.range(1).select(
      lit("a").as("message"), lit("h").as("hostname"),
      lit(5L).as("timestamp"))
    val got = df.select(Transformers.proto(Seq("k" -> "v"), Some(7L),
        produceMs = lit(6L))).head.getAs[Array[Byte]]("value")
    val expected =
      "0A0161" +                  // field 1 line "a"
      "120168" +                  // field 2 source "h"
      "1A06" + "0A016B" + "120176" + // field 3 Tag{k,v}
      "2007" +                    // field 4 logtypeid 7
      "2805" + "2806"             // field 5 timings [5, 6] unpacked
    assert(hex(got) === expected)
  }

  test("confluent framing: magic 0x00 + int32 BE schema id") {
    val df = spark.range(1).select(lit("x").as("message"),
      lit("h").as("hostname"), lit(1L).as("timestamp"))
    val framed = df.select(Transformers.avro(Nil, None, schemaId = 42))
      .head.getAs[Array[Byte]]("value")
    assert(hex(framed.take(5)) === "000000002A")
    // round-trip: unframe yields the bare avro body
    val body = df.select(Transformers.avro(Nil, None, schemaId = 42)
        .as("value"))
      .select(Transformers.confluentUnframe(col("value")).as("b"))
      .head.getAs[Array[Byte]]("b")
    assert(hex(body) === hex(framed.drop(5)))
  }

  test("fnv1a32 matches published FNV test vectors") {
    assert(Fnv1a32.hash(Array.emptyByteArray) === 0x811c9dc5)
    assert(Fnv1a32.hash("a".getBytes("UTF-8")) === 0xe40c292c)
    assert(Fnv1a32.hash("foobar".getBytes("UTF-8")) === 0xbf9cf968)
    // and through the SQL function + codegen path
    val got = spark.range(1)
      .select(call_function("fnv1a32", encode(lit("foobar"), "UTF-8")).as("h"))
      .head.getAs[Int]("h")
    assert(got === 0xbf9cf968)
  }

  test("tag parser splits at the first '=' only") {
    assert(cli.Config.parseTag("k=v") === Right(("k", "v")))
    assert(cli.Config.parseTag("k=v=w") === Right(("k", "v=w")))
    assert(cli.Config.parseTag("novalue").isLeft)
    assert(cli.Config.parseTag("=v") === Right(("", "v")))
  }

  test("CLI validate: reference rules") {
    import cli.{Config, GraftConfig}
    assert(Config.validate(GraftConfig()).isLeft) // no broker.list
    assert(Config.validate(GraftConfig(brokerList = "b:9092")).isLeft) // no topic
    val ok = GraftConfig(brokerList = "b:9092", topic = "t")
    assert(Config.validate(ok).isRight)
    assert(Config.validate(ok.copy(pattern = "avro")).isLeft) // needs registry
    assert(Config.validate(ok.copy(pattern = "avro",
      registryUrl = Some("http://r:8081"))).isRight)
    val parsed = Config.parse(Seq("--broker.list", "b:9092", "--topic", "t",
      "--avro", "--schema.registry.url", "http://r:8081",
      "--tag", "dc=dc1", "--tag", "env=test", "--log.type.id", "7"))
    assert(parsed.map(_.tags) === Right(Seq("dc" -> "dc1", "env" -> "test")))
    assert(parsed.map(_.logTypeId) === Right(Some(7L)))
    assert(parsed.flatMap(Config.validate).isRight)
    // the producer pool and the source buffer need at least one slot
    assert(Config.validate(ok.copy(numProducers = 0)) ===
      Left("num.producers must be >= 1, got 0"))
    assert(Config.validate(ok.copy(queueSize = 0)) ===
      Left("queue.size must be >= 1, got 0"))
    assert(Config.validate(ok.copy(queueSize = -5)) ===
      Left("queue.size must be >= 1, got -5"))
    assert(Config.validate(ok.copy(numProducers = 1, queueSize = 1)).isRight)
    // a value flag given last with no value is a missing value, not an
    // unknown flag; a flag that takes no value is still fine last
    assert(Config.parse(Seq("--broker.list", "b:9092", "--topic")) ===
      Left("missing value for --topic"))
    assert(Config.parse(Seq("--queue.size")) ===
      Left("missing value for --queue.size"))
    assert(Config.parse(Seq("--topic", "t", "--avro")).map(_.pattern) ===
      Right("avro"))
    assert(Config.parse(Seq("--bogus")) === Left("unknown flag: --bogus"))
  }

  test("CLI validate: parquet sink + landing partition knob") {
    import cli.{Config, GraftConfig}
    // parquet sink needs a path but no broker/topic
    assert(Config.validate(GraftConfig(sinkFormat = "parquet")).isLeft)
    val pq = GraftConfig(sinkFormat = "parquet", sinkPath = Some("/tmp/x"))
    assert(Config.validate(pq).isRight)
    assert(Config.validate(pq.copy(sinkPartitionBy = "hour")).isRight)
    assert(Config.validate(pq.copy(sinkPartitionBy = "day")).isRight)
    assert(Config.validate(pq.copy(sinkPartitionBy = "land-compact")).isRight)
    assert(Config.validate(pq.copy(sinkPartitionBy = "minute")).isLeft)
    assert(Config.validate(pq.copy(sinkFormat = "console")).isLeft)
    // partitioned landing modes are parquet-only: with a kafka sink the
    // writer would silently drop the partition/timestamp plumbing
    val kf = GraftConfig(brokerList = "b:9092", topic = "t")
    assert(Config.validate(kf).isRight)
    assert(Config.validate(kf.copy(sinkPartitionBy = "land-compact")).isLeft)
    assert(Config.validate(kf.copy(sinkPartitionBy = "hour")).isLeft)
    val parsed = Config.parse(Seq("--sink.format", "parquet",
      "--sink.path", "/tmp/landing", "--sink.partition.by", "hour"))
    assert(parsed.map(_.sinkPath) === Right(Some("/tmp/landing")))
    assert(parsed.map(_.sinkPartitionBy) === Right("hour"))
    assert(parsed.flatMap(Config.validate).isRight)
  }

  test("avro_logline_decode inverts avro_logline (O22 consumer path)") {
    val df = spark.range(1).select(lit("msg").as("message"),
      lit("host").as("hostname"), lit(1065910455003L).as("timestamp"))
    val decoded = df
      .select(Transformers.avro(Seq("dc" -> "dc1"), Some(7L), 42).as("value"))
      .select(Transformers.confluentUnframe(col("value")).as("body"))
      .select(call_function("avro_logline_decode", col("body")).as("r"))
      .select(col("r.line"), col("r.source"), col("r.tag"),
        col("r.logtypeid"), col("r.timings"))
      .head
    assert(decoded.getString(0) === "msg")
    assert(decoded.getString(1) === "host")
    assert(decoded.getMap[String, String](2) === Map("dc" -> "dc1"))
    assert(decoded.getLong(3) === 7L)
    val t = decoded.getSeq[org.apache.spark.sql.Row](4)
    assert(t.map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("received", 1065910455003L)))
  }

  test("fnv partition column matches reference partitioner arithmetic") {
    val got = spark.range(1).select(Transformers.fnvPartition(
      encode(lit("foobar"), "UTF-8"), 7)).head.getInt(0)
    // abs(0xbf9cf968 as int32) mod 7, computed like partitioner.go:15-44
    val h = Fnv1a32.hash("foobar".getBytes("UTF-8"))
    assert(got === math.floorMod(math.abs(h), 7))
  }

  test("producer-config file load (O21)") {
    import cli.Config
    val file = Config.fromFile(Seq(
      "# comment", "", "batch.size=500", "linger = 250",
      "required.acks=-1", "client.id=syslog", "metadata.expire.ms=60000"))
    val opts = Config.sinkOptionsFromFile(
      Config.kafkaSinkOptions(cli.GraftConfig(brokerList = "b:9092",
        topic = "t")), file)
    assert(opts("kafka.batch.size") === "500")
    assert(opts("kafka.linger.ms") === "250")
    assert(opts("kafka.acks") === "all")
    assert(opts("kafka.client.id") === "syslog")
    assert(opts("kafka.metadata.max.age.ms") === "60000")
    assert(opts("kafka.bootstrap.servers") === "b:9092")
  }

  test("registry response parser") {
    assert(ingest.SchemaRegistry.parseId("""{"id": 42}""") === 42)
    assert(ingest.SchemaRegistry.parseId("""{ "id":7 }""") === 7)
  }
  // --- Kafka v0 message-set decode (siesta messages.go:43-177) ---------

  test("kafka v0 message set: hand-built golden bytes decode (layout pin)") {
    import graft.ingest.MessageSet
    // one entry, offset 5, key "k", value "vv" — built byte-by-byte from
    // the wire spec, NOT via our encoder, so encoder and decoder cannot
    // share a bug
    val body = Array[Byte](
      0,          // magic
      0,          // attributes = none
      0, 0, 0, 1, 'k', // key bytes32
      0, 0, 0, 2, 'v', 'v') // value bytes32
    val crc = new java.util.zip.CRC32(); crc.update(body)
    val c = crc.getValue.toInt
    val msg = Array[Byte](
      (c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte) ++ body
    val wire = Array[Byte](0, 0, 0, 0, 0, 0, 0, 5) ++ // offset int64
      Array[Byte](0, 0, 0, msg.length.toByte) ++ msg
    val got = MessageSet.decode(wire)
    assert(got.length === 1)
    assert(got.head.offset === 5L)
    assert(new String(got.head.key, "UTF-8") === "k")
    assert(new String(got.head.value, "UTF-8") === "vv")
  }

  test("kafka v0 message set: plain round-trip incl null key/value") {
    import graft.ingest.MessageSet
    import graft.ingest.MessageSet.Entry
    val entries = Seq(
      Entry(0L, "alpha".getBytes, "line one".getBytes),
      Entry(1L, null, "no key".getBytes),
      Entry(2L, "k2".getBytes, null))
    val got = MessageSet.decode(MessageSet.encodePlain(entries))
    assert(got.map(_.offset) === Seq(0L, 1L, 2L))
    assert(new String(got.head.value, "UTF-8") === "line one")
    assert(got(1).key === null)
    assert(got(2).value === null)
  }

  test("kafka v0 message set: gzip + snappy nested sets decode recursively") {
    import graft.ingest.MessageSet
    import graft.ingest.MessageSet.Entry
    val entries = (0 until 50).map(i => Entry(100L + i, null, s"payload $i".getBytes))
    for (wire <- Seq(MessageSet.encodeGzip(entries, wrapperOffset = 149),
                     MessageSet.encodeSnappy(entries, wrapperOffset = 149))) {
      val got = MessageSet.decode(wire)
      assert(got.length === 50)
      assert(got.map(_.offset) === (100L until 150L))
      assert(got.map(e => new String(e.value, "UTF-8")) ===
        (0 until 50).map(i => s"payload $i"))
    }
  }

  test("kafka v0 message set: truncated tail is dropped silently (fetch boundary)") {
    import graft.ingest.MessageSet
    import graft.ingest.MessageSet.Entry
    val whole = MessageSet.encodePlain(
      Seq(Entry(0, null, "a".getBytes), Entry(1, null, "b".getBytes)))
    // cut into the middle of the second entry, like a size-bounded fetch
    val cut = java.util.Arrays.copyOf(whole, whole.length - 3)
    val got = MessageSet.decode(cut)
    assert(got.length === 1)
    assert(new String(got.head.value, "UTF-8") === "a")
  }

  test("kafka v0 message set: corrupt entries raise typed errors, not AIOOBE") {
    import graft.ingest.MessageSet
    import graft.ingest.MessageSet.Entry
    // Corruption is distinct from truncation: the entry's declared size
    // is fully present but its content contradicts itself. The reference
    // returns a typed DecodingError here; the old code threw
    // ArrayIndexOutOfBounds (garbage value length) or silently parsed
    // the NEXT entry's bytes (size below the 14-byte message minimum).
    val whole = MessageSet.encodePlain(Seq(Entry(0, null, "abcdef".getBytes)))
    // value length field sits at offset 8+4+4+1+1+4 = 22; forge it huge
    val badLen = whole.clone()
    badLen(22) = 0x7f.toByte
    val e1 = intercept[MessageSet.MessageSetCorruptException] {
      MessageSet.decode(badLen)
    }
    assert(e1.getMessage.contains("exceeds entry bounds"))
    // size field at offset 8: declare 13 bytes — present, but below the
    // minimum message layout (crc+magic+attrs+2 length prefixes)
    val badSize = whole.clone()
    badSize(11) = 13.toByte
    val e2 = intercept[MessageSet.MessageSetCorruptException] {
      MessageSet.decode(badSize)
    }
    assert(e2.getMessage.contains("below the 14-byte"))
  }

  test("kafka_message_set_decode expression flattens sets in a DataFrame") {
    import graft.ingest.MessageSet
    import graft.ingest.MessageSet.Entry
    val spark = TestSpark.spark
    import spark.implicits._
    val wire = MessageSet.encodeGzip(
      (0 until 5).map(i => Entry(i, null, s"line $i".getBytes)), 4)
    val rows = Seq(Tuple1(wire)).toDF("payload")
      .select(explode(call_function("kafka_message_set_decode",
        col("payload"))).as("m"))
      .select(col("m.offset"), decode(col("m.value"), "UTF-8").as("line"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(rows === (0 until 5).map(i => (i.toLong, s"line $i")))
  }
}
