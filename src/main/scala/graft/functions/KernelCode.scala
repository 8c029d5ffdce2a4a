package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, ExprCode}

/** Generated code of the single-kernel form. Every row-level expression
  * in this package keeps its kernel in ONE companion method: `nullSafeEval`
  * calls it, and `doGenCode` emits one call to it through the
  * companion's static forwarder, `${classOf[X].getName}.kernel(...)`.
  * Interpreted eval (local frames, higher-order lambdas) and whole-stage
  * codegen (Parquet-fed stages) therefore cannot drift apart.
  */
private[functions] object KernelCode {

  /** For a kernel that answers NULL as a null boxed return: the call's
    * result sets `ev.isNull`, and a non-null one unboxes into `ev.value`.
    */
  def nullable(ev: ExprCode, call: String): String = {
    val prim = ev.value.javaType.getName
    val box = s"${ev.value}Boxed"
    s"""${CodeGenerator.boxedType(prim)} $box = $call;
       |${ev.isNull} = $box == null;
       |if (!${ev.isNull}) ${ev.value} = $box.${prim}Value();""".stripMargin
  }
}
