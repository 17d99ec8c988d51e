package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native packed character-class count signature (r18) — the one-pass
  * form of [[graft.ops.SimilarityJoin.classCountSignature]]'s 8-class
  * regexp composition.
  *
  * The regexp form compiles to EIGHT `regexp_extract_all` passes per
  * row, each materializing an array of single-character match strings
  * just to take its size — measured as ~11 executor-CPU-seconds PER
  * JOIN SIDE on q_similarity_blocked_full at sf0.1 (the signature was
  * the dominant cost of the stage, not the DP verify it guards). This
  * expression computes the identical packed signature in one pass over
  * the string's UTF-8 bytes, no allocation, whole-stage codegen.
  *
  * Identical semantics to the regexp composition, which counts CODE
  * POINTS per class: buckets 0..5 are a-d/e-h/i-l/m-p/q-t/u-x, bucket 6
  * is y-z, bucket 7 is [^a-z] — any other code point. UTF-8
  * continuation bytes (0b10xxxxxx) are skipped, so a multi-byte code
  * point counts exactly once (in bucket 7, since a-z are single-byte).
  * Counts saturate at 255 per bucket (the regexp form's least(·,255))
  * and bucket i packs at bits 8i. NULL input → NULL; the regexp chain
  * differs there (least() skips the NULL counts, so it reads -1, every
  * bucket saturated), a split OpsSpec pins. OpsSpec also pins native ==
  * regexp composition on random unicode strings including >255
  * saturation. */
case class ClassCountSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "class_count_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"class_count_sig requires a string input, got $t")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val nb = s.numBytes()
    var sig = 0L
    var i = 0
    while (i < nb) {
      val b = s.getByte(i)
      if ((b & 0xC0) != 0x80) { // skip UTF-8 continuation bytes
        val bucket =
          if (b >= 'a' && b <= 'z') (b - 'a') >> 2 else 7
        val sh = bucket << 3
        if (((sig >>> sh) & 255L) < 255L) sig += 1L << sh
      }
      i += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val i = ctx.freshName("i")
      val nb = ctx.freshName("nb")
      val b = ctx.freshName("b")
      val sig = ctx.freshName("sig")
      val sh = ctx.freshName("sh")
      s"""
         |int $nb = $s.numBytes();
         |long $sig = 0L;
         |for (int $i = 0; $i < $nb; $i++) {
         |  byte $b = $s.getByte($i);
         |  if (($b & 0xC0) != 0x80) {
         |    int $sh = (($b >= 'a' && $b <= 'z') ? (($b - 'a') >> 2) : 7) << 3;
         |    if ((($sig >>> $sh) & 255L) < 255L) $sig += 1L << $sh;
         |  }
         |}
         |${ev.value} = $sig;
         |""".stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
