package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftBridge

/** Codegen'd doc-id set membership: the BIGINT `child` is one of `ids`, a
  * sorted `long[]` probed by binary search — the relational form of the
  * reference's per-OID chunk lookup (getChunk fts-lmdb.go:1640-1642) and
  * of its validity filter's dead set (fts-lmdb.go:1151-1162).
  *
  * Unlike `InSet`, it is deliberately not translated to a parquet source
  * filter: a pushed `In` list costs task CPU that grows with the set
  * (measured in [[graft.query.Search.inSet]]), while the docs store's
  * min/max stats prune no file (see
  * [[graft.query.Search.DefaultMaxInlineCandidates]]). The set is one
  * codegen reference object of 8 bytes per id, so the probe stays inside
  * whole-stage codegen. Plan strings print the id count, not the ids.
  */
case class DocIdIn(child: Expression, ids: Array[Long])
    extends UnaryExpression with Predicate {

  override def prettyName: String = "doc_id_in"

  override protected def nullSafeEval(input: Any): Any =
    java.util.Arrays.binarySearch(ids, input.asInstanceOf[Long]) >= 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("docIds", ids, "long[]")
    defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($ref, $c) >= 0")
  }

  override def toString: String = s"$prettyName($child, ${ids.length} ids)"
  override def simpleString(maxFields: Int): String = toString
  override def sql: String = s"$prettyName(${child.sql}, ${ids.length} ids)"

  // case-class equality compares an Array by reference
  override def equals(other: Any): Boolean = other match {
    case o: DocIdIn => child == o.child && java.util.Arrays.equals(ids, o.ids)
    case _ => false
  }
  @transient private lazy val idsHash = java.util.Arrays.hashCode(ids)
  override def hashCode: Int = 31 * child.hashCode + idsHash

  override protected def withNewChildInternal(newChild: Expression): DocIdIn =
    copy(child = newChild)
}

object DocIdIn {
  /** Column API: `DocIdIn($"doc_id", ids)`, the ids in any order. */
  def apply(col: Column, ids: Iterable[Long]): Column = {
    val sorted = ids.toArray
    java.util.Arrays.sort(sorted)
    GraftBridge.column(DocIdIn(GraftBridge.expression(col), sorted))
  }
}
