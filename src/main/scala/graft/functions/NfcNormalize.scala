package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC (canonical composition) normalization as a native
  * codegen'd expression — the canonicalization step in front of exact
  * dedup and fingerprinting: "café" spelled with a precomposed é and
  * with e + COMBINING ACUTE are byte-different but the same text, so a
  * byte-level md5 dedup (q25) misses them unless the bytes are
  * canonicalized first (q82).
  *
  * Why custom (SURVEY §2.11): Spark has no normalization builtin; a
  * Scala UDF would box every row and block whole-stage codegen in the
  * scan-speed cleaning path. The JDK's `java.text.Normalizer` is the
  * same Unicode-standard NFC the oracle's `nfc_normalize` applies, so
  * the two engines agree byte-for-byte (property-tested in
  * TextOpsSpec with combining-mark inputs).
  *
  * NFC (not NFKC) deliberately: the oracle side exposes only NFC, and
  * canonical equivalence is the safe default for dedup — K-compat
  * folding (ﬁ → fi) changes content.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${classOf[NfcNormalize].getName}.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** The kernel, shared by eval and generated code. Fast path: NFC
    * normalization is the identity on most real text (and on all
    * ASCII); `isNormalized` is a cheap scan that avoids allocating.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def nfcCol(c: Column): Column = column(NfcNormalize(expression(c)))
}
