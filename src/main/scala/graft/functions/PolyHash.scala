package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial hash of a string: fold over bytes of
  * `acc = (acc*31 + byte) mod (2^31-1)` — the classic document
  * fingerprint primitive, as a native Catalyst expression with codegen
  * (stays inside WholeStageCodegen; no UDF serialization, no boxing).
  *
  * Engine-exact DuckDB oracle:
  * `list_reduce(list_transform(string_split(text,''), c -> CAST(ascii(c) AS BIGINT)),
  *              (acc,c) -> (acc*31+c) % 2147483647)`
  * (byte fold == char fold for ASCII corpora; the oracle is only used on
  * the ASCII testdata).
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"polyhash requires a string argument, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "polyhash"

  private final val P = 2147483647L

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[UTF8String].getBytes
    var acc = 0L
    var i = 0
    while (i < b.length) {
      acc = (acc * 31 + (b(i) & 0xff)) % P
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $acc = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $acc = ($acc * 31L + ($bytes[$i] & 0xFF)) % ${P}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}
