package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{AvroLogLineDecode, AvroLogLineEncode, BloomMightContain, BpeCount, BpeCountTrained, CodePointSeed, Fnv1a32, KafkaMessageSetDecode, ProtoLogLineEncode, ShingleSet, SortedIntersectCount, SubArgmin, VecDot}

/** SparkSessionExtensions entry point: registers the ingest wire-format
  * expressions as SQL functions, the map-side top-k rewrite
  * ([[graft.plans.PushLocalTopK]]) and the removal of `repartition(1)`
  * over a one-partition scan ([[graft.plans.OnePartitionRepartition]],
  * which makes each default ingest micro-batch one job). Activated
  * either programmatically (`Sessions.builder`) or via
  * `spark.sql.extensions=graft.GraftExtensions` on any cluster — the
  * standard deployment story for a library shipping native expressions.
  *
  * Usage: `call_function("avro_logline", struct(...))`,
  * `SELECT fnv1a32(value) FROM ...`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // map-side partial top-k below row_number()<=k rank filters
    // (graft.plans.LocalTopK): rule + strategy + physical operator
    ext.injectOptimizerRule(_ => graft.plans.PushLocalTopK)
    ext.injectPlannerStrategy(_ => graft.plans.LocalTopKStrategy)
    // repartition(1) over a one-partition scan: no exchange
    // (graft.plans.OnePartitionRepartition), applied inside AQE
    ext.injectQueryStagePrepRule(_ => graft.plans.OnePartitionRepartition)
    ext.injectFunction((
      new FunctionIdentifier("avro_logline"),
      new ExpressionInfo(classOf[AvroLogLineEncode].getName, "avro_logline"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        AvroLogLineEncode(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("proto_logline"),
      new ExpressionInfo(classOf[ProtoLogLineEncode].getName, "proto_logline"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ProtoLogLineEncode(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("avro_logline_decode"),
      new ExpressionInfo(classOf[AvroLogLineDecode].getName,
        "avro_logline_decode"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        AvroLogLineDecode(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("fnv1a32"),
      new ExpressionInfo(classOf[Fnv1a32].getName, "fnv1a32"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Fnv1a32(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ShingleSet(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SortedIntersectCount(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecDot(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("sub_argmin"),
      new ExpressionInfo(classOf[SubArgmin].getName, "sub_argmin"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SubArgmin(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName,
        "bloom_might_contain"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BloomMightContain(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("bpe_count"),
      new ExpressionInfo(classOf[BpeCount].getName, "bpe_count"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BpeCount(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bpe_count_trained"),
      new ExpressionInfo(classOf[BpeCountTrained].getName,
        "bpe_count_trained"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BpeCountTrained(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bpe_seed"),
      new ExpressionInfo(classOf[CodePointSeed].getName, "bpe_seed"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CodePointSeed(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("kafka_message_set_decode"),
      new ExpressionInfo(classOf[KafkaMessageSetDecode].getName,
        "kafka_message_set_decode"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        KafkaMessageSetDecode(children.head)))
  }
}
