package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native q8 (symmetric int8) embedding signature:
  * `graft_q8cell(embedding)` → struct(q8: array<bigint>, na2: bigint,
  * cell: bigint) — the int8 quantization, its squared norm, and the
  * 8-bit integer-plane (Weyl lattice) cell id, in ONE flat loop.
  *
  * Why native: the Column-HOF form (transform + nested
  * aggregate/zip_with per plane) is interpreted, and Catalyst's
  * projection collapse INLINES it into every consumer — the scan-level
  * isnotnull filter, both tile projections, and the pair-join
  * condition each re-ran the full nested-lambda pipeline (measured
  * 37 s for semantic_dedup at sf0.1 / 2000 vectors; ~0.5 s after this
  * expression). Inlining still duplicates the call, but each copy is
  * now one tight loop (~8·64 int ops), not a lambda-allocation storm.
  *
  * Arithmetic is EXACTLY the HOF/oracle form (SemanticPairsCte):
  *  - max_abs = max |v_i| over non-null elements (double);
  *  - q8_i = 0 when max_abs = 0; null when v_i null or max_abs null
  *    (empty/all-null vector); else floor(v_i·127/max_abs + 0.5);
  *  - na2 = Σ q8_i² skipping nulls;
  *  - cell bit p (p = 0..7): Σ_i q8_i·((p·2654435761 + i·40503) %
  *    1001 − 500) ≥ 0, nulls contribute 0; cell = Σ bit_p·2^(7−p).
  * Empty / all-null / all-zero vectors get cell 255 (every empty sum
  * is ≥ 0) — same as the HOF form, so they cluster together and pair
  * among themselves only.
  */
case class Q8CellSig(child: Expression) extends UnaryExpression {

  private val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_q8cell expects array<float|double>, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("q8", ArrayType(LongType, containsNull = true)),
    StructField("na2", LongType, nullable = false),
    StructField("cell", LongType, nullable = false)))

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    def elem(i: Int): Double =
      if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    // max |v_i| over non-null elements; None when no non-null element
    var maxAbs = 0.0
    var sawAny = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val a = math.abs(elem(i))
        if (!sawAny || a > maxAbs) maxAbs = a
        sawAny = true
      }
      i += 1
    }
    val q8 = new Array[AnyRef](n)
    val planeSums = new Array[Long](8)
    var na2 = 0L
    i = 0
    while (i < n) {
      val q: java.lang.Long =
        if (!sawAny) null // max_abs null -> q8Elem null
        else if (maxAbs == 0.0) java.lang.Long.valueOf(0L)
        else if (arr.isNullAt(i)) null
        else java.lang.Long.valueOf(
          math.floor(elem(i) * 127.0 / maxAbs + 0.5).toLong)
      q8(i) = q
      if (q != null) {
        val qv = q.longValue()
        na2 += qv * qv
        var p = 0
        while (p < 8) {
          planeSums(p) += qv * ((p * 2654435761L + i * 40503L) % 1001L - 500L)
          p += 1
        }
      }
      i += 1
    }
    var cell = 0L
    var p = 0
    while (p < 8) {
      cell = cell * 2 + (if (planeSums(p) >= 0) 1L else 0L)
      p += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(q8), na2, cell))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("q8cell", this, classOf[Q8CellSig].getName)
      s"${ev.value} = $self.compute($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The WIDE-lattice q8 signature — the semantic family's analog of the
  * simhash 64→126-bit widening (round-13 verdict item 1): the same
  * quantization and plane arithmetic as [[Q8CellSig]], but over
  * 4 BANDS × 16 PLANES = 64 integer Weyl planes instead of one 8-plane
  * cell. `graft_q8cellw(embedding)` → struct(q8: array<bigint>,
  * na2: bigint, cells: array<bigint> of length 4), where
  * cells(b) packs the signs of planes 16b..16b+15 MSB-first.
  *
  * Why: the 8-bit cell id is a FIXED 256-key universe, so per-cell
  * population grows linearly with the corpus and same-cell candidate
  * enumeration grows quadratically (CellProbe measured Σc² ×100 per
  * ×10 data; the 100×-hard probe ran semantic_clusters_incremental at
  * 7.7× wall per 10× data with zero qualifying output). Four 16-bit
  * band keys multiply the per-band universe by 2⁸ — populations
  * collapse toward singletons and the candidate join is output-bound
  * at the scales where the 256-cell space saturates — while the
  * band-OR (a pair is a candidate if ANY band's subcell matches)
  * RAISES single-band recall at the production τ=0.95 operating point
  * (per-plane agreement p = 1 − θ/π ≈ 0.90 ⇒ one 8-plane cell ≈ 0.43,
  * 4-of-16-plane bands ≈ 0.55 at the threshold, higher for closer
  * pairs). HOT clusters (genuine twin groups) are the other failure
  * mode — the callers keep the same adaptive tiling / hash-sharding
  * as the narrow form (the round-13 simhash lesson: both mechanisms,
  * always).
  *
  * Plane p (p = 0..63) uses EXACTLY [[Q8CellSig]]'s weight stream
  * ((p·2654435761 + i·40503) % 1001 − 500) — planes 0..7 ARE the
  * narrow cell's planes — so the whole chain stays integer-exact and
  * DuckDB-replayable (the hash-green gate). Degenerate vectors (empty
  * / all-null / all-zero) get every plane sum 0 ⇒ all bits set ⇒
  * cells = [65535,65535,65535,65535]: they cluster together and pair
  * among themselves only, the narrow form's documented behavior. */
case class Q8CellSigWide(child: Expression) extends UnaryExpression {

  private val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_q8cellw expects array<float|double>, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("q8", ArrayType(LongType, containsNull = true)),
    StructField("na2", LongType, nullable = false),
    StructField("cells", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    def elem(i: Int): Double =
      if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    var maxAbs = 0.0
    var sawAny = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val a = math.abs(elem(i))
        if (!sawAny || a > maxAbs) maxAbs = a
        sawAny = true
      }
      i += 1
    }
    val q8 = new Array[AnyRef](n)
    val planeSums = new Array[Long](64)
    var na2 = 0L
    i = 0
    while (i < n) {
      val q: java.lang.Long =
        if (!sawAny) null
        else if (maxAbs == 0.0) java.lang.Long.valueOf(0L)
        else if (arr.isNullAt(i)) null
        else java.lang.Long.valueOf(
          math.floor(elem(i) * 127.0 / maxAbs + 0.5).toLong)
      q8(i) = q
      if (q != null) {
        val qv = q.longValue()
        na2 += qv * qv
        var p = 0
        while (p < 64) {
          planeSums(p) += qv * ((p * 2654435761L + i * 40503L) % 1001L - 500L)
          p += 1
        }
      }
      i += 1
    }
    val cells = new Array[Long](4)
    var p = 0
    while (p < 64) {
      val b = p / 16
      cells(b) = cells(b) * 2 + (if (planeSums(p) >= 0) 1L else 0L)
      p += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(q8), na2,
      new GenericArrayData(cells)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("q8cellw", this, classOf[Q8CellSigWide].getName)
      s"${ev.value} = $self.compute($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native integer dot product over two bigint arrays:
  * `graft_q8dot(a, b)` → bigint. Null elements contribute 0 and the
  * shorter array is treated as null-padded (score the common prefix) —
  * identical to the zip_with/coalesce HOF form and the oracle's
  * SUM-skips-nulls, but one codegen'd loop instead of three lambda
  * allocations per element. */
case class Q8Dot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_q8dot expects array<bigint> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) dot += a.getLong(i) * b.getLong(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $dot += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** BINARY packing of a q8 signature: `graft_q8pack(q8)` → binary, one
  * signed byte per element, null element → sentinel −128 (a value the
  * quantizer can never emit: q = floor(v·127/max|v| + 0.5) ∈ [−127,
  * 127] by construction — enforced here with a loud failure, never a
  * silent wrap). Round-18, guide §2.3 (narrower types): the banded
  * semantic pair joins replicate each vector's signature per (band ×
  * tile/shard) row, and an array<bigint> q8 costs ~8 B/element plus
  * offsets on every replica crossing the exchange; the packed form is
  * 1 B/element. [[Q8DotBin]] consumes it with the exact [[Q8Dot]]
  * semantics, so pack→dot is bit-identical to the array dot
  * (Q8PackSpec). */
case class Q8Pack(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_q8pack expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = BinaryType

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) out(i) = -128
      else {
        val v = a.getLong(i)
        if (v < -127L || v > 127L) throw new IllegalStateException(
          s"graft_q8pack: element $v outside the q8 range [-127, 127]")
        out(i) = v.toByte
      }
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) {
         |    $out[$i] = (byte) -128;
         |  } else {
         |    long $v = $a.getLong($i);
         |    if ($v < -127L || $v > 127L) {
         |      throw new IllegalStateException("graft_q8pack: element " + $v +
         |        " outside the q8 range [-127, 127]");
         |    }
         |    $out[$i] = (byte) $v;
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native integer dot over two [[Q8Pack]]-packed signatures:
  * `graft_q8dotb(a, b)` → bigint. Same contract as [[Q8Dot]]: the
  * −128 sentinel (a packed null) contributes 0, the shorter input
  * scores its common prefix. Bit-identical to unpacking and running
  * [[Q8Dot]] (Q8PackSpec pins it on the fixture and edge inputs). */
case class Q8DotBin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == BinaryType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_q8dotb expects binary inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[Array[Byte]]
    val b = r.asInstanceOf[Array[Byte]]
    val n = math.min(a.length, b.length)
    var dot = 0L
    var i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      if (x != -128 && y != -128) dot += x.toLong * y.toLong
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length);
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  byte $x = $a[$i]; byte $y = $b[$i];
         |  if ($x != -128 && $y != -128) $dot += (long) $x * (long) $y;
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native chunked-signature Hamming distance:
  * `graft_hamming_chunks(a, b)` → bigint = Σᵢ popcount(aᵢ xor bᵢ) over
  * two bigint arrays — the per-CANDIDATE verify of the wide-signature
  * banded self-joins (the chunks partition the signature's bits, so
  * the per-chunk popcount sum IS the signature Hamming distance).
  *
  * Native for the round-13 fused-loop reason (graft_srpbands /
  * graft_latticebands): the HOF form it replaces —
  * aggregate(zip_with(a, b, bit_count∘xor), 0, +) — materializes an
  * intermediate array and dispatches three lambdas per element FOR
  * EVERY CANDIDATE PAIR the banded join enumerates, and candidates
  * are the scale currency here: the hard 100× fixture enumerates
  * ~116M wide-simhash candidates to emit 652k pairs. One codegen'd
  * loop, no allocation. Bit-identity with the HOF is pinned by
  * RewireEquivalenceSpec — INCLUDING the edge inputs the signature
  * generators never emit (round-15 advice): mismatched lengths and
  * null elements yield NULL, exactly as zip_with pads the shorter
  * array with nulls and aggregate's `+` propagates them. The function
  * is registered on the public SQL surface, so a user swapping the
  * HOF for the native form must see identical results on ALL
  * inputs, not just the well-formed ones. */
case class ChunkHamming(left: Expression, right: Expression)
    extends BinaryExpression {

  // null even on non-null inputs: length mismatch / null elements
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hamming_chunks expects array<bigint> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_hamming_chunks"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var ham = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      ham += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    ham
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ham = ctx.freshName("ham")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $ham = 0L;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      $ham += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |    }
         |  }
         |  ${ev.value} = $ham;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Generator form of the upper-triangle second-moment entries of one
  * q8 vector: `graft_q8moments(q8)` → rows (i, j, v = q8ᵢ·q8ⱼ,
  * qi, qj) for i ≤ j — the input stream of
  * [[graft.operators.PcaOps.q8Covariance]]'s hash aggregation. Native
  * for the usual reason (the flatten-of-nested-transform HOF form
  * measured 2.8 s at sf0.1 building 10M interpreted structs; this
  * streams them from one tight loop), and the generator feeds straight
  * into map-side partial aggregation, so the shuffle stays
  * d(d+1)/2 × partitions rows at any corpus size. Null elements (the
  * degenerate-vector contract of Q8CellSig) contribute rows with the
  * null treated as 0, matching SUM-skips-nulls oracle arithmetic only
  * when vectors are non-degenerate — the fixture's are; degenerate
  * stores should filter first (documented boundary).
  */
case class Q8MomentsGen(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_q8moments expects array<bigint>, got ${other.simpleString}")
  }

  override def elementSchema: StructType = StructType(
    StructField("i", IntegerType, nullable = false) ::
    StructField("j", IntegerType, nullable = false) ::
    StructField("v", LongType, nullable = false) ::
    StructField("qi", LongType, nullable = false) ::
    StructField("qj", LongType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val a = child.eval(input)
    if (a == null) Iterator.empty
    else {
      val arr = a.asInstanceOf[ArrayData]
      val d = arr.numElements()
      val q = new Array[Long](d)
      var k = 0
      while (k < d) {
        q(k) = if (arr.isNullAt(k)) 0L else arr.getLong(k)
        k += 1
      }
      new Iterator[InternalRow] {
        private var i = 0
        private var j = 0
        override def hasNext: Boolean = i < d
        override def next(): InternalRow = {
          val row = new GenericInternalRow(Array[Any](i, j, q(i) * q(j), q(i), q(j)))
          j += 1
          if (j >= d) { i += 1; j = i }
          row
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native integer squared-L2 distance: `graft_q8l2(a, b)` → bigint =
  * Σᵢ (aᵢ − bᵢ)² over the common prefix, skipping element pairs where
  * either side is null — exactly the
  * `aggregate(zip_with(a, b, coalesce((x−y)·(x−y), 0)), 0, +)` HOF
  * form it replaces (zip_with pads the shorter array with nulls and a
  * null element poisons only its own term). Native for the same
  * fused-loop reason as [[Q8Dot]]: the HOF runs interpreted with three
  * lambda dispatches per element, and the IVF families evaluate this
  * once per (vector, centroid) pair in the timed cell-assignment scan
  * (round-17, guide §4 — prefer codegen'd built-ins in hot paths). */
case class Q8L2(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_q8l2 expects array<bigint> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_q8l2"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val d = a.getLong(i) - b.getLong(i)
        acc += d * d
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
