package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot loops of the §7.4 operators.
  *
  * The pure higher-order-function formulations (aggregate/zip_with
  * lambdas) are interpreted per element — measured ~1µs per lambda
  * step, which makes a 64-hash MinHash signature or a 64-bit SimHash
  * over a 100-token doc cost milliseconds per row. These expressions
  * compute the same values in tight JVM loops (microseconds per row,
  * >100× faster), keeping per-row interpretive overhead to a single
  * expression call. All are deterministic and null-safe; hashing uses
  * the same XXH64(seed=42) as Spark's built-in `xxhash64`.
  */
object Native {

  private final val XxSeed = 42L

  private def xx64(s: UTF8String): Long = XXH64.hashUTF8String(s, XxSeed)

  /** Cosine similarity of two float/double arrays, accumulated in
    * double in array order (bit-identical to the sequential
    * aggregate-fold form, hence to the DuckDB oracle). Zero norm → 0.0.
    *
    * The ONE native expression here with a real `doGenCode`: it sits on
    * the verify hot path of every dedup/ANN query, and falling back
    * would drop the enclosing stage out of whole-stage codegen (the
    * hash/shingle-heavy siblings below stay `CodegenFallback` — their
    * eval bodies dominate per-row cost, so the interpreted-call
    * overhead is noise there, and each would need a generated copy of
    * a nontrivial loop body for no measured gain).
    */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType

    private def elemGetter(e: Expression): (ArrayData, Int) => Double =
      e.dataType.asInstanceOf[ArrayType].elementType match {
        case FloatType  => (a, i) => a.getFloat(i).toDouble
        case DoubleType => (a, i) => a.getDouble(i)
        case t => throw new IllegalArgumentException(s"cosine_sim: bad element type $t")
      }
    @transient private lazy val getL = elemGetter(left)
    @transient private lazy val getR = elemGetter(right)

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = getL(a, i); val y = getR(b, i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val norm = math.sqrt(na) * math.sqrt(nb)
      if (norm > 0) dot / norm else 0.0
    }

    // Same fused loop as nullSafeEval, generated: reads are direct
    // ArrayData accessors (no per-element lambda dispatch), accumulation
    // order is identical so codegen'd and interpreted results are
    // bit-equal.
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      def getter(e: Expression, v: String, i: String): String =
        e.dataType.asInstanceOf[ArrayType].elementType match {
          case FloatType  => s"(double) $v.getFloat($i)"
          case DoubleType => s"$v.getDouble($i)"
          case t => throw new IllegalArgumentException(s"cosine_sim: bad element type $t")
        }
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        val norm = ctx.freshName("norm")
        s"""
           |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  final double $x = ${getter(left, a, i)};
           |  final double $y = ${getter(right, b, i)};
           |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
           |}
           |final double $norm = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
           |${ev.value} = ($norm > 0.0) ? ($dot / $norm) : 0.0;
           |""".stripMargin
      })
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "cosine_sim"
  }

  /** MinHash signature over word k-shingles of a token array.
    * Shingling rule matches Shingling.shingles: ≤k tokens → one shingle
    * (the whole text). h = xxhash64(shingle) mod P;
    * sig_i = min over shingles of (h*a_i + b_i) mod P, P = 2^31-1.
    */
  case class ShingleMinHash(child: Expression, k: Int, as: Array[Long], bs: Array[Long])
      extends UnaryExpression with CodegenFallback {
    private final val P = 2147483647L
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val m = as.length
      val sig = Array.fill(m)(P)
      val sb = new java.lang.StringBuilder(64)

      def update(shingle: UTF8String): Unit = {
        val h = java.lang.Math.floorMod(xx64(shingle), P)
        var i = 0
        while (i < m) {
          val v = java.lang.Math.floorMod(h * as(i) + bs(i), P)
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      def joined(from: Int, until: Int): UTF8String = {
        sb.setLength(0)
        var i = from
        while (i < until) {
          if (i > from) sb.append(' ')
          sb.append(toks.getUTF8String(i).toString)
          i += 1
        }
        UTF8String.fromString(sb.toString)
      }

      if (n <= k) update(joined(0, n))
      else {
        var i = 0
        while (i <= n - k) { update(joined(i, i + k)); i += 1 }
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "shingle_minhash"
  }

  /** MinHash signature computed FROM a stored hashed-shingle array
    * (the [[HashedShingleSet]] representation) instead of from tokens:
    * sig_i = min over hashes of (floorMod(h, P)·a_i + b_i) mod P —
    * numerically IDENTICAL to [[ShingleMinHash]] on the originating
    * text, because both reduce the same xxhash64 shingle values and a
    * min is insensitive to the duplicate shingles the set form drops.
    * Lets dedup paths that already materialized the set (the exact-
    * collapse representatives) derive band keys without re-reading or
    * re-shingling the text.
    */
  case class MinhashFromHashes(child: Expression, as: Array[Long], bs: Array[Long])
      extends UnaryExpression with CodegenFallback {
    private final val P = 2147483647L
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val m = as.length
      val sig = Array.fill(m)(P)
      var j = 0
      while (j < n) {
        val h = java.lang.Math.floorMod(hs.getLong(j), P)
        var i = 0
        while (i < m) {
          val v = java.lang.Math.floorMod(h * as(i) + bs(i), P)
          if (v < sig(i)) sig(i) = v
          i += 1
        }
        j += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "minhash_from_hashes"
  }

  /** Signed left-fold of a numeric vector: ±x_0 ± x_1 … ± x_{d-1},
    * associated exactly as written — the JL-projection kernel behind
    * [[graft.scale.Embeddings.randomProject]]. acc starts at ±x_0 and
    * adds/subtracts each following element in index order, so the
    * result is BIT-IDENTICAL to the element_at fold it replaces
    * (IEEE: acc − x ≡ acc + (−x), and the association is unchanged)
    * while evaluating as one tight JIT-able loop instead of a d-node
    * expression tree the interpreter walks per row. Folds
    * min(|v|, |signs|) elements; callers gate on size(v) = d.
    */
  case class SignedFoldSum(child: Expression, signs: Array[Int])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    // null on empty arrays and on any null element (below) — regardless
    // of the child's nullability
    override def nullable: Boolean = true

    @transient private lazy val getD: (ArrayData, Int) => Double =
      child.dataType.asInstanceOf[ArrayType].elementType match {
        case FloatType  => (a, i) => a.getFloat(i).toDouble
        case DoubleType => (a, i) => a.getDouble(i)
        case t => throw new IllegalArgumentException(s"signed_fold_sum: bad element type $t")
      }

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = java.lang.Math.min(v.numElements(), signs.length)
      if (n == 0) null
      else {
        // a null ELEMENT nulls the whole fold — the element_at chain this
        // kernel replaced null-propagated the component the same way
        // (round-14 advice; vectors with containsNull are rare but legal)
        var i = 0
        while (i < n) { if (v.isNullAt(i)) return null; i += 1 }
        var acc = if (signs(0) > 0) getD(v, 0) else -getD(v, 0)
        i = 1
        while (i < n) {
          val x = getD(v, i)
          acc = if (signs(i) > 0) acc + x else acc - x
          i += 1
        }
        acc
      }
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "signed_fold_sum"
  }

  /** Sorted distinct xxhash64 values of the word k-shingles of a token
    * array (same shingling rule as ShingleMinHash). Representing a
    * shingle SET as a sorted long array makes the downstream pairwise
    * Jaccard a merge-walk over longs instead of string-array
    * intersection — and shrinks the candidate-pair shuffle by ~10×.
    */
  case class HashedShingleSet(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val sb = new java.lang.StringBuilder(64)
      def joined(from: Int, until: Int): UTF8String = {
        sb.setLength(0)
        var i = from
        while (i < until) {
          if (i > from) sb.append(' ')
          sb.append(toks.getUTF8String(i).toString)
          i += 1
        }
        UTF8String.fromString(sb.toString)
      }
      val m = if (n <= k) 1 else n - k + 1
      val hs = new Array[Long](m)
      if (n <= k) hs(0) = xx64(joined(0, n))
      else {
        var i = 0
        while (i <= n - k) { hs(i) = xx64(joined(i, i + k)); i += 1 }
      }
      java.util.Arrays.sort(hs)
      // dedup in place (sorted)
      var w = 0
      var i = 0
      while (i < m) {
        if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
        i += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(hs, w))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "hashed_shingle_set"
  }

  /** Exact Jaccard of two SORTED long arrays via a single merge walk.
    * Empty union → 0.0.
    */
  case class JaccardSortedLongs(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      val union = na + nb - inter
      if (union > 0) inter.toDouble / union else 0.0
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "jaccard_sorted"
  }

  /** Intersection COUNT of two SORTED long arrays via the same merge
    * walk as [[JaccardSortedLongs]] — the shared numerator of every
    * asymmetric overlap measure (containment |A∩B|/|A|, overlap
    * coefficient |A∩B|/min(|A|,|B|)): emitting the exact integer count
    * lets callers form whichever ratio they need in plain (oracle-
    * replayable) column arithmetic instead of a per-measure expression.
    */
  case class IntersectSortedLongs(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var inter = 0L
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      inter
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "intersect_sorted_count"
  }

  /** 64-bit SimHash of a token array: bit j set iff
    * Σ_tokens (bit_j(xxhash64(token)) ? +1 : −1) > 0.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val sums = new Array[Int](64)
      var i = 0
      while (i < n) {
        val h = xx64(toks.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
          j += 1
        }
        i += 1
      }
      var fp = 0L
      var j = 0
      while (j < 64) { if (sums(j) > 0) fp |= (1L << j); j += 1 }
      fp
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "simhash64"
  }

  /** Engine-portable 60-bit SimHash of a token array: per-token hash =
    * two 31-base/131-base polynomial rolling hashes mod 2^31-1 over the
    * token's codepoints (the `portableFingerprint` arithmetic — Spark
    * `ascii()` == DuckDB `unicode()` even for CJK); fingerprint bit j
    * is the majority sign of bit j across token hashes, lower 30 bits
    * of each polynomial. Every operation is integer arithmetic a SQL
    * oracle reproduces bit-for-bit — unlike xxhash64's `SimHash64`,
    * which is faster but engine-specific. Products stay < 2^38, far
    * inside ANSI-mode long range.
    */
  case class SimHashPortable(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val sums = new Array[Int](60)
      var i = 0
      while (i < n) {
        val s = toks.getUTF8String(i).toString
        var h1 = 0L
        var h2 = 0L
        var ci = 0
        while (ci < s.length) {
          val cp = s.codePointAt(ci)
          h1 = (h1 * 31L + cp) % 2147483647L
          h2 = (h2 * 131L + cp) % 2147483647L
          ci += Character.charCount(cp)
        }
        var j = 0
        while (j < 30) {
          if (((h1 >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
          j += 1
        }
        while (j < 60) {
          if (((h2 >>> (j - 30)) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
          j += 1
        }
        i += 1
      }
      var fp = 0L
      var j = 0
      while (j < 60) { if (sums(j) > 0) fp |= (1L << j); j += 1 }
      fp
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "simhash_portable"
  }

  /** Random-hyperplane LSH keys: one sign-bit signature per table.
    * planes(t)(p) is a dim-length hyperplane; key_t bit p is set iff
    * dot(vec, planes(t)(p)) >= 0. Output array<long> of length tables.
    */
  case class HyperplaneLshKeys(child: Expression, planes: Array[Array[Array[Double]]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any = {
      val vec = input.asInstanceOf[ArrayData]
      val n = vec.numElements()
      val v = new Array[Double](n)
      var i = 0
      while (i < n) { v(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i); i += 1 }
      val keys = new Array[Long](planes.length)
      var t = 0
      while (t < planes.length) {
        var key = 0L
        val tp = planes(t)
        var p = 0
        while (p < tp.length) {
          val plane = tp(p)
          var dot = 0.0
          val d = math.min(n, plane.length)
          var j = 0
          while (j < d) { dot += v(j) * plane(j); j += 1 }
          if (dot >= 0) key |= (1L << p)
          p += 1
        }
        keys(t) = key
        t += 1
      }
      new GenericArrayData(keys)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "hyperplane_lsh_keys"
  }

  /** L2-normalized copy of a float/double array (double elements);
    * NULL when the norm is zero (a zero vector has no direction — the
    * IVF quantizer and probe paths drop it rather than inventing one).
    * One tight loop; replaces the interpreted transform+aggregate HOF
    * pair that dominated the per-row cost of the IVF corpus pass.
    */
  case class L2Normalize(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true

    // any numeric element type (the HOF form this replaced accepted a
    // cast from every numeric); reading a non-float array through
    // getDouble would silently reinterpret bytes, so dispatch per type
    // and fail LOUDLY on non-numeric arrays
    @transient private lazy val getter: (ArrayData, Int) => Double =
      child.dataType.asInstanceOf[ArrayType].elementType match {
        case FloatType => (a, i) => a.getFloat(i).toDouble
        case DoubleType => (a, i) => a.getDouble(i)
        case IntegerType => (a, i) => a.getInt(i).toDouble
        case LongType => (a, i) => a.getLong(i).toDouble
        case ShortType => (a, i) => a.getShort(i).toDouble
        case ByteType => (a, i) => a.getByte(i).toDouble
        case t => throw new IllegalArgumentException(
          s"l2_normalize requires array<numeric>, got array<$t>")
      }

    override def nullSafeEval(input: Any): Any = {
      val vec = input.asInstanceOf[ArrayData]
      val dim = vec.numElements()
      val v = new Array[Double](dim)
      var acc = 0.0
      var i = 0
      while (i < dim) {
        val x = getter(vec, i)
        v(i) = x; acc += x * x; i += 1
      }
      if (acc == 0.0) null
      else {
        val n = math.sqrt(acc)
        var j = 0
        while (j < dim) { v(j) /= n; j += 1 }
        new GenericArrayData(v)
      }
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "l2_normalize"
  }

  /** The `n` nearest centroid indices for a vector by squared euclidean
    * distance (ties → lower index), as array<int>. Centroids ship as
    * literals (nlist ≤ thousands — driver-sized by design, like the
    * hyperplanes above), so IVF cell assignment/probing is one tight
    * loop per row instead of nlist interpreted struct comparisons.
    */
  case class NearestCells(child: Expression, centroids: Array[Array[Double]], n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any = {
      val vec = input.asInstanceOf[ArrayData]
      val dim = vec.numElements()
      val v = new Array[Double](dim)
      var i = 0
      while (i < dim) { v(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i); i += 1 }
      val k = centroids.length
      val dist = new Array[Double](k)
      var c = 0
      while (c < k) {
        val cent = centroids(c)
        val d = math.min(dim, cent.length)
        var acc = 0.0
        var j = 0
        while (j < d) { val t = v(j) - cent(j); acc += t * t; j += 1 }
        dist(c) = acc
        c += 1
      }
      val order = Array.range(0, k).sortBy(i => (dist(i), i)).take(math.min(n, k))
      new GenericArrayData(order)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "nearest_cells"
  }

  /** Squared L2 distance from a vector to EVERY centroid, as
    * array<double> in centroid order — the distances behind
    * [[NearestCells]] exposed directly (silhouette needs the values,
    * not just the ranking). Same per-centroid left-to-right
    * accumulation order as [[NearestCells]] and the zip_with fold the
    * oracles replay — bit-identical sums, ~100× the throughput of the
    * interpreted HOF form (the randomProject lesson). */
  case class CellDistances(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any = {
      val vec = input.asInstanceOf[ArrayData]
      val dim = vec.numElements()
      val v = new Array[Double](dim)
      var i = 0
      while (i < dim) { v(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i); i += 1 }
      val k = centroids.length
      val dist = new Array[Double](k)
      var c = 0
      while (c < k) {
        val cent = centroids(c)
        val d = math.min(dim, cent.length)
        var acc = 0.0
        var j = 0
        while (j < d) { val t = v(j) - cent(j); acc += t * t; j += 1 }
        dist(c) = acc
        c += 1
      }
      new GenericArrayData(dist)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "cell_distances"
  }

  /** Content-defined chunking (CDC) of a string — the rsync/LBFS
    * boundary-detection primitive behind storage-level dedup and delta
    * compression: a chunk boundary falls AFTER position i whenever the
    * polynomial hash of the trailing `w`-codepoint window satisfies
    * `(H mod 2147483647) mod divisor == 0` (plus a forced final cut),
    * so boundaries move WITH content — an insertion reshuffles only
    * the chunks up to the next surviving cutpoint, unlike fixed-width
    * chunking where everything downstream shifts.
    *
    * Returns array<struct<start, len, hash>> (1-based codepoint start,
    * codepoint length, and the portable per-chunk rolling hash
    * `(acc·31 + code) mod 2147483647` — the s7 fingerprint family).
    * The window Horner value is maintained exactly in a long (max
    * codepoint 0x10FFFF × Σ31^j for w=8 ≈ 3·10¹⁶, far under 2⁶³), and
    * the roll `(h − c_out·31^{w−1})·31 + c_in` reproduces the
    * recomputed sum bit-for-bit — which is what lets a SQL oracle
    * re-derive every cutpoint with a per-position fold. Codepoint
    * (not UTF-16) indexing matches SQL per-character splitting.
    *
    * This is the UNBOUNDED textbook form: no min/max chunk clamps, so
    * degenerate content (long constant runs) can produce tiny chunks.
    * Production CDC adds FastCDC-style bounds — a sequential decision
    * a per-position oracle cannot express; keep the unbounded form
    * where exact verification matters.
    */
  case class CdcChunks(child: Expression, w: Int, divisor: Int)
      extends UnaryExpression with CodegenFallback {
    require(w >= 2 && divisor >= 2, s"need w >= 2 and divisor >= 2, got w=$w divisor=$divisor")
    private val P = 2147483647L

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("start", LongType, nullable = false),
      StructField("len", LongType, nullable = false),
      StructField("hash", LongType, nullable = false))), containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val codes = s.codePoints().toArray
      val n = codes.length
      if (n == 0) return new GenericArrayData(Array.empty[Any])
      var pow = 1L // 31^(w-1)
      var j = 1
      while (j < w) { pow *= 31L; j += 1 }
      val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
      if (n >= w) {
        var h = 0L
        var i = 0
        while (i < w) { h = h * 31L + codes(i); i += 1 } // window ending at position w
        if ((h % P) % divisor == 0) cuts += w
        while (i < n) {
          h = (h - codes(i - w) * pow) * 31L + codes(i)
          i += 1
          if ((h % P) % divisor == 0) cuts += i
        }
      }
      if (cuts.isEmpty || cuts(cuts.length - 1) != n) cuts += n
      val rows = new Array[Any](cuts.length)
      var prev = 0
      var k = 0
      while (k < cuts.length) {
        val c = cuts(k)
        var h = 0L
        var t = prev
        while (t < c) { h = (h * 31L + codes(t)) % P; t += 1 }
        rows(k) = org.apache.spark.sql.catalyst.InternalRow(
          (prev + 1).toLong, (c - prev).toLong, h)
        prev = c
        k += 1
      }
      new GenericArrayData(rows)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "cdc_chunks"
  }

  /** Canonical (a <= b, binary UTF8 order — the same ordering
    * `least`/`greatest` use for strings) windowed co-occurrence pairs
    * of a token array: one struct per (i, i+d) position pair, d <=
    * window. Semantically identical to the nested
    * `flatten(transform(sequence..., transform(sequence..., struct(
    * least, greatest))))` HOF pipeline it replaces in
    * [[graft.scale.TextAnalysis.pmiPairs]] — but higher-order
    * functions are interpreted per ELEMENT (closure dispatch + boxing
    * per emitted struct), which made the O(tokens x window) expansion
    * the whole query's cost; this is one tight loop per row.
    */
  case class WindowedPairs(child: Expression, window: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("a", StringType, nullable = true),
        StructField("b", StringType, nullable = true))),
      containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      if (n < 2) return new GenericArrayData(Array.empty[Any])
      val w = math.min(window, n - 1)
      // exact emission count: sum_i min(window, n-1-i)
      val total = (n.toLong - 1) * w - w.toLong * (w - 1) / 2
      val out = new Array[Any](total.toInt)
      var idx = 0
      var i = 0
      while (i < n - 1) {
        val lim = math.min(window, n - 1 - i)
        val x = toks.getUTF8String(i)
        var d = 1
        while (d <= lim) {
          val y = toks.getUTF8String(i + d)
          out(idx) =
            if (x.binaryCompare(y) <= 0)
              org.apache.spark.sql.catalyst.InternalRow(x, y)
            else org.apache.spark.sql.catalyst.InternalRow(y, x)
          idx += 1
          d += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "windowed_pairs"
  }

  /** 31-base polynomial hash (mod 2³¹−1, codepoint fold — the
    * [[graft.functions.PortableHash.polyHash31]] kernel) of every
    * length-`w` token window, in position order: output(i) hashes
    * tokens [i, i+w) joined by a single space. Fewer than `w` tokens →
    * empty array. The span-level dedup primitive (Lee et al. 2022's
    * repeated-substring observation, hash-window form): one tight loop
    * per row replaces an O(len·w·chars) nested-HOF pipeline whose
    * per-codepoint interpreted dispatch dominated the query.
    */
  case class SpanPolyHashes(child: Expression, w: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      if (n < w) return new GenericArrayData(Array.empty[Long])
      val out = new Array[Long](n - w + 1)
      var i = 0
      while (i <= n - w) {
        var h = 0L
        var j = i
        while (j < i + w) {
          if (j > i) h = (h * 31L + 32L) % 2147483647L // ' ' joiner
          val s = toks.getUTF8String(j).toString
          var ci = 0
          while (ci < s.length) {
            val cp = s.codePointAt(ci)
            h = (h * 31L + cp) % 2147483647L
            ci += Character.charCount(cp)
          }
          j += 1
        }
        out(i) = h
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "span_poly_hashes"
  }

  /** Unicode NFC normalization (canonical composition) of a string —
    * Spark ships no normalizer builtin; this wraps
    * `java.text.Normalizer` (the JDK's Unicode implementation), which
    * agrees with DuckDB's `nfc_normalize` (both implement UAX#15 NFC),
    * making the operator oracle-checkable. Fast path: `isNormalized`
    * returns the input buffer untouched for already-NFC text (the
    * overwhelmingly common case), so no allocation per row.
    */
  case class NormalizeNfc(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "normalize_nfc"
  }

  /** Squared-L2 distances of one SUBVECTOR (elements [offset, offset +
    * centroid dim)) to every centroid of a product-quantization
    * codebook, in centroid order — the per-subspace distance list PQ
    * encode and ADC search both consume (Pq.scala). Accumulation is
    * sequential over dims (left-associative), bit-identical to the
    * unrolled `(v-c)*(v-c) + …` chains the DuckDB oracle evaluates.
    * One interpreted call replaces a ~k×dsub-node expression tree per
    * subspace, whose analysis/codegen cost — not its row cost — was
    * the measured bottleneck (15s of planning at any data size).
    */
  case class SubspaceDistances(child: Expression, offset: Int, centroids: Array[Array[Double]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any = {
      val vec = input.asInstanceOf[ArrayData]
      val k = centroids.length
      val out = new Array[Double](k)
      var c = 0
      while (c < k) {
        val cent = centroids(c)
        var acc = 0.0
        var j = 0
        while (j < cent.length) {
          val x = if (isFloat) vec.getFloat(offset + j).toDouble
                  else vec.getDouble(offset + j)
          val t = x - cent(j)
          acc += t * t
          j += 1
        }
        out(c) = acc
        c += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "subspace_distances"
  }

  /** Language prediction in one token pass: count stopword hits per
    * language (hash-set membership, all languages in the same loop) and
    * return the argmax language — first in `langs` order on ties,
    * `"und"` when every score is zero. Bit-identical to the
    * size(filter(...)) + CASE formulation (TextAnalysis.langId) that the
    * DuckDB oracle mirrors, but ~langs× fewer interpreted lambda steps:
    * built for corpus-scale filters where the HOF form dominated the
    * row cost.
    */
  case class LangPredict(child: Expression, langs: Array[String], lists: Array[Array[String]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType

    @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
      lists.map { ws =>
        val s = new java.util.HashSet[UTF8String](ws.length * 2)
        ws.foreach(w => s.add(UTF8String.fromString(w)))
        s
      }
    @transient private lazy val langU8: Array[UTF8String] =
      langs.map(UTF8String.fromString)
    @transient private lazy val und = UTF8String.fromString("und")

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val counts = new Array[Long](sets.length)
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        var j = 0
        while (j < sets.length) {
          if (sets(j).contains(t)) counts(j) += 1
          j += 1
        }
        i += 1
      }
      var best = 0; var j = 1
      while (j < counts.length) {
        if (counts(j) > counts(best)) best = j
        j += 1
      }
      if (counts(best) == 0L) und else langU8(best)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "lang_predict"
  }

  // ---- Column-API wrappers -------------------------------------------

  private def ex(c: Column) = GraftBridge.expr(c)

  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(ex(a), ex(b)))

  def shingleMinhash(tokens: Column, k: Int, as: Seq[Long], bs: Seq[Long]): Column =
    GraftBridge.column(ShingleMinHash(ex(tokens), k, as.toArray, bs.toArray))

  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(ex(tokens)))

  def simhashPortable(tokens: Column): Column =
    GraftBridge.column(SimHashPortable(ex(tokens)))

  def hashedShingleSet(tokens: Column, k: Int): Column =
    GraftBridge.column(HashedShingleSet(ex(tokens), k))

  def jaccardSorted(a: Column, b: Column): Column =
    GraftBridge.column(JaccardSortedLongs(ex(a), ex(b)))

  def intersectSortedCount(a: Column, b: Column): Column =
    GraftBridge.column(IntersectSortedLongs(ex(a), ex(b)))

  def minhashFromHashes(hashes: Column, as: Seq[Long], bs: Seq[Long]): Column =
    GraftBridge.column(MinhashFromHashes(ex(hashes), as.toArray, bs.toArray))

  def signedFoldSum(vec: Column, signs: Array[Int]): Column =
    GraftBridge.column(SignedFoldSum(ex(vec), signs))

  def windowedPairs(tokens: Column, window: Int): Column =
    GraftBridge.column(WindowedPairs(ex(tokens), window))

  def spanPolyHashes(tokens: Column, w: Int): Column =
    GraftBridge.column(SpanPolyHashes(ex(tokens), w))

  def hyperplaneLshKeys(vec: Column, planes: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(HyperplaneLshKeys(ex(vec), planes))

  def nearestCells(vec: Column, centroids: Array[Array[Double]], n: Int): Column =
    GraftBridge.column(NearestCells(ex(vec), centroids, n))

  def cellDistances(vec: Column, centroids: Array[Array[Double]]): Column =
    GraftBridge.column(CellDistances(ex(vec), centroids))

  def l2Normalize(vec: Column): Column =
    GraftBridge.column(L2Normalize(ex(vec)))

  def subspaceDistances(vec: Column, offset: Int, centroids: Array[Array[Double]]): Column =
    GraftBridge.column(SubspaceDistances(ex(vec), offset, centroids))

  def normalizeNfc(text: Column): Column =
    GraftBridge.column(NormalizeNfc(ex(text)))

  def cdcChunks(text: Column, w: Int, divisor: Int): Column =
    GraftBridge.column(CdcChunks(ex(text), w, divisor))

  def langPredict(tokens: Column, langs: Seq[String], lists: Seq[Seq[String]]): Column = {
    require(langs.nonEmpty && langs.size == lists.size,
      s"langPredict needs one stopword list per language (got ${langs.size}/${lists.size})")
    GraftBridge.column(LangPredict(ex(tokens), langs.toArray, lists.map(_.toArray).toArray))
  }
}
