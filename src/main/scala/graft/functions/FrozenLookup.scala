package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** A per-row lookup into FROZEN tables — the one mechanism behind the
  * LM, KN and decontamination gates ([[LmDocCost]], [[KnDocCost]],
  * [[SetHitCount]]): one sweep over the row's value, an O(1) hash probe
  * per gram, integer accumulation — no row expansion, no join, no
  * shuffle.
  *
  * "Frozen" means the tables are fixed when the Column is built
  * (collected on the driver from a fitted model or a benchmark set),
  * travel inside the expression as plain Scala collections — so with
  * every task — and are rebuilt into java HashMaps once per task
  * ([[tables]], transient and lazy, on the first row evaluated). A
  * table must therefore be vocabulary-bounded, the same bound that let
  * the former join paths broadcast it.
  *
  * The base owns the input-type check and the table build; a subclass
  * keeps its fields, its loop and its output type.
  */
abstract class FrozenLookup extends UnaryExpression with CodegenFallback {

  /** The child type the loop reads; array element nullability is not
    * checked (a NULL element matches no key). */
  protected def inputType: DataType

  /** The frozen tables, in the order [[tables]] serves them. Each is a
    * set of keys (a key maps to itself), a map key → value, or a map
    * (k1, k2) → value, which nests as k1 → (k2 → value) so a probe
    * never builds a composite key. */
  protected def frozen: Seq[Iterable[Any]]

  @transient protected lazy val tables: Array[java.util.HashMap[Any, Any]] =
    frozen.map { t =>
      val m = new java.util.HashMap[Any, Any](t.size * 2)
      t.foreach {
        case ((k1, k2), v) =>
          m.computeIfAbsent(k1, _ => new java.util.HashMap[Any, Any]())
            .asInstanceOf[java.util.HashMap[Any, Any]].put(k2, v)
        case (k, v) => m.put(k, v)
        case k => m.put(k, k)
      }
      m
    }.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, inputType,
        ignoreNullability = true)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects " +
      s"${inputType.simpleString}, got ${child.dataType.simpleString}")

  /** (count, nll_micro): the per-document cost struct of the LM scorers. */
  protected def costStruct(count: String): StructType = StructType(Seq(
    StructField(count, LongType, nullable = false),
    StructField("nll_micro", LongType, nullable = false)))
}

/** Per-document LM cost under a collected char-trigram model — the
  * scorer of [[graft.operators.LangModel.lmScore]]: one sweep over the
  * lowercased text, a lookup per trigram. Returns (n_tri, nll_micro),
  * or NULL below 3 chars (nothing to score). Lowercasing uses
  * root-locale String semantics — equivalent to Spark's lower() on the
  * ASCII/BMP text this pipeline processes (LangModelSpec asserts exact
  * parity with its join-based reference on the fixtures).
  */
case class LmDocCost(child: Expression, costs: Map[String, Long],
    oovCost: Long) extends FrozenLookup {

  override def dataType: DataType = costStruct("n_tri")
  // NULL for sub-3-char inputs even when the CHILD is non-nullable —
  // without this override the optimizer folds a downstream IsNotNull
  // guard to true and the null struct leaks through
  override def nullable: Boolean = true
  override protected def inputType: DataType = StringType
  override protected def frozen: Seq[Iterable[Any]] = Seq(costs)

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString.toLowerCase(java.util.Locale.ROOT)
    val n = s.length - 2
    if (n <= 0) null
    else {
      val table = tables(0)
      var i = 0
      var sum = 0L
      while (i < n) {
        val c = table.get(s.substring(i, i + 3))
        sum += (if (c == null) oovCost else c.asInstanceOf[Long])
        i += 1
      }
      InternalRow(n.toLong, sum)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document Kneser–Ney cost under the frozen cost tables — the
  * scorer of [[graft.operators.LangModel.knScoreWith]] and of
  * [[graft.streaming.StreamPretrain]]'s KN gate. Child is the token
  * array (`tokens(lower(text))`, so token boundaries are the shared
  * compiled expression's). Per bigram the cost is the pair cost when
  * the pair is in the table, else the interpolation backoff
  * B1(w1)+C(w2) when BOTH sides are known, else the uniform OOV floor
  * — `coalesce(_pc, _b1 + _cc, oov)` in LangModelSpec's
  * explode+join reference. Returns (n_big, nll_micro), or NULL below 2
  * tokens. Long sums are order-independent, so scores are
  * bit-identical to the reference's (LangModelSpec pins parity on the
  * fixtures).
  */
case class KnDocCost(child: Expression,
    pairCost: Map[(String, String), Long], b1Cost: Map[String, Long],
    cCost: Map[String, Long], oovCost: Long) extends FrozenLookup {

  override def dataType: DataType = costStruct("n_big")
  // NULL for sub-2-token inputs (the LmDocCost override rationale)
  override def nullable: Boolean = true
  override protected def inputType: DataType = ArrayType(StringType)
  override protected def frozen: Seq[Iterable[Any]] =
    Seq(pairCost, b1Cost, cCost)

  private def token(arr: ArrayData, i: Int): String =
    if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) null
    else {
      val Array(pairs, b1s, cs) = tables
      var sum = 0L
      // each token is decoded once: the current bigram's w2 becomes
      // the next bigram's w1. A NULL element is in no table, so its
      // bigrams take the OOV branch (HashMap.get accepts a null key).
      var w1 = token(arr, 0)
      var i = 1
      while (i < n) {
        val w2 = token(arr, i)
        val inner = pairs.get(w1).asInstanceOf[java.util.HashMap[Any, Any]]
        val pc = if (inner == null) null else inner.get(w2)
        if (pc != null) sum += pc.asInstanceOf[Long]
        else {
          val b = b1s.get(w1)
          val c = cs.get(w2)
          if (b != null && c != null)
            sum += b.asInstanceOf[Long] + c.asInstanceOf[Long]
          else sum += oovCost
        }
        w1 = w2
        i += 1
      }
      InternalRow((n - 1).toLong, sum)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Number of elements of a string array present in a frozen set — the
  * decontamination gate of [[graft.streaming.StreamPretrain]]
  * (`deconKeep`). NULL elements never match. Fed a DISTINCT-gram array
  * ([[WordNgrams]]'s contract) the count equals the former join path's
  * per-document distinct-hit count (StreamPretrainSpec pins parity).
  */
case class SetHitCount(child: Expression, set: Seq[String])
    extends FrozenLookup {

  override def dataType: DataType = LongType
  override protected def inputType: DataType = ArrayType(StringType)
  override protected def frozen: Seq[Iterable[Any]] = Seq(set)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val table = tables(0)
    var hits = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) &&
          table.containsKey(arr.getUTF8String(i).toString)) hits += 1L
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
