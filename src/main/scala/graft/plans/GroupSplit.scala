package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, TypeCoercion}
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression,
  GenericInternalRow, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The payload-group split of one change's matched ids, in one pass:
  * `ids` (sorted in binary UTF8 order, as the match battery emits them)
  * is walked once, each id mapped to its group or groups through a
  * constant id → groups map built from `members`, and an id equal to its
  * predecessor (the battery emits an id once per arm it matched in, so
  * twins sit side by side) is dropped. Then, per group with at least one
  * id and in group order, `arms(g)` is evaluated and the group's ids are
  * appended as the struct's last field, `subscription_ids`. A group with
  * no id is never evaluated; a null or empty `ids` gives an empty array.
  * An id in two groups goes to both; a group's ids keep the input order.
  *
  * The ids written out are the registry's own `UTF8String`s, not views
  * into the input row, so the result does not alias an input buffer the
  * caller may reuse.
  *
  * CodegenFallback, as the `filter`/`transform` chain it replaced was;
  * its cost on the CDC router's interpreted path is in
  * [[graft.walrus.Payload]]. */
case class GroupSplit(ids: Expression, arms: Seq[Expression], members: Seq[Seq[String]])
  extends Expression with CodegenFallback {

  require(arms.length == members.length, "one member list per arm")

  override def children: Seq[Expression] = ids +: arms
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ids.dataType.isInstanceOf[ArrayType] ||
        ids.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"group_split ids must be array<string>, not ${ids.dataType.catalogString}")
    else if (!arms.forall(_.dataType.isInstanceOf[StructType]) ||
        !TypeCoercion.haveSameType(arms.map(_.dataType)))
      TypeCheckResult.TypeCheckFailure("group_split arms must be structs of one type")
    else TypeCheckResult.TypeCheckSuccess

  /** The arms' common struct (nullability merged, as `array(arms…)`
    * would), plus `subscription_ids`. */
  override lazy val dataType: DataType = {
    val arm = TypeCoercion.findCommonTypeDifferentOnlyInNullFlags(arms.map(_.dataType))
      .get.asInstanceOf[StructType]
    ArrayType(arm.add(StructField("subscription_ids",
      ArrayType(StringType, containsNull = false), nullable = false)), containsNull = false)
  }

  @transient private lazy val armTypes: Array[DataType] =
    dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      .fields.init.map(_.dataType)

  /** id → (the registry's own bytes, the groups holding it). */
  @transient private lazy val groupsOf: java.util.HashMap[UTF8String, GroupSplit.Member] = {
    val m = new java.util.HashMap[UTF8String, GroupSplit.Member]()
    for ((ids, g) <- members.zipWithIndex; id <- ids.distinct) {
      val k = UTF8String.fromString(id)
      val prior = m.get(k)
      m.put(k, GroupSplit.Member(k, if (prior == null) Array(g) else prior.groups :+ g))
    }
    m
  }

  override def eval(input: InternalRow): Any = {
    val in = ids.eval(input).asInstanceOf[ArrayData]
    val n = if (in == null) 0 else in.numElements()
    if (n == 0) return GroupSplit.Empty
    // pass 1: resolve each distinct id to its member entry, count per group
    val hit = new Array[GroupSplit.Member](n)
    val counts = new Array[Int](arms.length)
    var prev: GroupSplit.Member = null
    var j = 0
    while (j < n) {
      if (!in.isNullAt(j)) {
        val m = groupsOf.get(in.getUTF8String(j))
        if (m != null && (m ne prev)) {
          hit(j) = m
          var k = 0
          while (k < m.groups.length) { counts(m.groups(k)) += 1; k += 1 }
        }
        prev = m
      }
      j += 1
    }
    // pass 2: each matched group's ids in input order, then its arm
    val byGroup = new Array[Array[Any]](arms.length)
    val filled = new Array[Int](arms.length)
    var nGroups = 0
    var g = 0
    while (g < arms.length) {
      if (counts(g) > 0) { byGroup(g) = new Array[Any](counts(g)); nGroups += 1 }
      g += 1
    }
    if (nGroups == 0) return GroupSplit.Empty
    j = 0
    while (j < n) {
      val m = hit(j)
      if (m != null) {
        var k = 0
        while (k < m.groups.length) {
          val g = m.groups(k)
          byGroup(g)(filled(g)) = m.id
          filled(g) += 1
          k += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](nGroups)
    var o = 0
    g = 0
    while (g < arms.length) {
      if (byGroup(g) != null) {
        val arm = arms(g).eval(input).asInstanceOf[InternalRow]
        val fields = new Array[Any](armTypes.length + 1)
        var f = 0
        while (f < armTypes.length) { fields(f) = arm.get(f, armTypes(f)); f += 1 }
        fields(armTypes.length) = new GenericArrayData(byGroup(g))
        out(o) = new GenericInternalRow(fields)
        o += 1
      }
      g += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ids = newChildren.head, arms = newChildren.tail)

  override def prettyName: String = "group_split"
}

object GroupSplit {
  private[plans] final case class Member(id: UTF8String, groups: Array[Int])
  private val Empty = new GenericArrayData(Array.empty[Any])
}

/** `body` with `variable` bound to `value`: `value` is evaluated once,
  * set on the variable, and `body` reads it wherever it refers to the
  * variable — as Spark's higher-order functions bind their lambda
  * variables. [[graft.walrus.Payload]] binds a payload group's record
  * JSON this way, so the 413 size check, the record and `old_record`'s
  * size check read one build.
  *
  * The variable is bound here, so it is not a reference of this node:
  * `references` drops it (an analyzed plan would otherwise miss it as an
  * input attribute). `references` is @transient like the one it
  * overrides; the set it holds does not serialize. One evaluation at a
  * time: the variable is state, as in a higher-order function. */
case class BindOnce(variable: NamedLambdaVariable, value: Expression, body: Expression)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(value, body)
  override def dataType: DataType = body.dataType
  override def nullable: Boolean = body.nullable

  @transient override lazy val references: AttributeSet =
    value.references ++ (body.references -- Seq(variable))

  override def eval(input: InternalRow): Any = {
    variable.value.set(value.eval(input))
    body.eval(input)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(value = newChildren(0), body = newChildren(1))

  override def prettyName: String = "bind_once"
}
