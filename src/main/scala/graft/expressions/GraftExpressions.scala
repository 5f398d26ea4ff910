package graft.expressions

import java.lang.invoke.{MethodHandle, MethodHandles, MethodType}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for graft's hot loops.
  *
  * Preference order per the Spark-first design: compose built-ins where
  * semantics allow; drop to a codegen'd `Expression` only where the
  * built-in composition (`zip_with` + `aggregate` higher-order
  * functions, which are interpreted per-element closures) would dominate
  * the profile: ANN scoring (cosine), near-dup verification (hamming),
  * signature computation (minhash/simhash) and the one-pass text
  * kernels run once per row × per candidate over the whole corpus.
  *
  * Each kernel is declared ONCE, as a [[Native]]: its SQL name, its
  * column input types, its result type, its constant parameters and
  * the [[Kernels]] method it calls. Everything else derives from that
  * declaration: the expression ([[NativeUnary]] / [[NativeBinary]],
  * which emit a static `graft.expressions.Kernels.<method>(…)` call
  * inside whole-stage codegen and, when interpreted, call the same
  * method through a handle bound once per expression), the input
  * casts, the analysis-time type check, the `GraftFunctions` Column
  * builder and the SQL name. A new kernel is one declaration plus one
  * `Kernels` method.
  */

/** A constant parameter of a [[Native]] kernel, baked into the
  * generated call as a literal (`k`, `seed`, `n`, ...). `min` bounds an
  * integer parameter at construction. */
final case class Param(name: String, dataType: DataType,
                       default: Option[Any] = None, min: Option[Long] = None)

/** One native scalar kernel. `inputs` are the column inputs (one or
  * two), each cast to its declared type; `params` follow them as
  * constants. `planName` overrides the name plans show, for a SQL name
  * that is a typed flavor of another kernel. */
final case class Native(name: String, inputs: Seq[DataType], dataType: DataType,
                        method: String, params: Seq[Param] = Nil,
                        planName: Option[String] = None) {
  require(inputs.size == 1 || inputs.size == 2, s"$name: one or two column inputs")

  def prettyName: String = planName.getOrElse(name)

  // resolved at declaration, so a declaration whose method or types do
  // not match `Kernels` fails when graft loads, not when a row arrives
  @transient private lazy val target = {
    val m = Kernels.getClass.getMethod(method,
      (inputs ++ params.map(_.dataType)).map(CodeGenerator.javaClass): _*)
    require(m.getReturnType == CodeGenerator.javaClass(dataType),
      s"$name: Kernels.$method returns ${m.getReturnType}, declared $dataType")
    MethodHandles.publicLookup().unreflect(m).bindTo(Kernels)
  }
  target

  /** The kernel over `args`, the one place inputs are cast and
    * constants bound — both the SQL name and the Column builder build
    * through here. The first `inputs.size` args are the column inputs,
    * each cast to its declared type; the rest are constant parameters,
    * and missing trailing ones take their defaults. */
  def expr(args: Seq[Expression]): Expression = {
    val (cols, consts) = args.splitAt(inputs.size)
    require(cols.size == inputs.size && consts.size <= params.size,
      s"$name takes ${inputs.size} column input(s) and at most ${params.size} " +
        s"constant(s), got ${args.size} argument(s)")
    val values = params.zipWithIndex.map { case (p, i) =>
      val v = consts.lift(i) match {
        case Some(e) =>
          val c = if (e.foldable) Cast(e, p.dataType).eval() else null
          require(c != null, s"$name: ${p.name} must be a non-null constant, got ${e.sql}")
          c
        case None => p.default.getOrElse(
          throw new IllegalArgumentException(s"$name: missing parameter ${p.name}"))
      }
      p.min.foreach(m => require(v.asInstanceOf[Number].longValue >= m,
        s"$name: ${p.name} must be >= $m, got $v"))
      v
    }
    node(cols.zip(inputs).map { case (e, t) => Cast(e, t) }, values)
  }

  /** Column builder: `Column` arguments are the inputs, any other
    * value a constant parameter. */
  def apply(args: Any*): Column = Bridge.column(expr(args.map {
    case c: Column => Bridge.expression(c)
    case v => Literal(v)
  }))

  /** The kernel's expression over `children` exactly as given — no
    * casts; a mistyped child fails analysis. */
  def node(children: Seq[Expression], values: Seq[Any]): Expression = children match {
    case Seq(c) => NativeUnary(this, c, values)
    case Seq(l, r) => NativeBinary(this, l, r, values)
  }

  private[expressions] def check(got: Seq[DataType]): TypeCheckResult = {
    def accepts(want: DataType, have: DataType): Boolean = (want, have) match {
      case (ArrayType(w, _), ArrayType(h, _)) => accepts(w, h)
      case _ => want == have
    }
    if (inputs.zip(got).forall { case (w, h) => accepts(w, h) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (${inputs.map(_.simpleString).mkString(", ")}), " +
        s"got (${got.map(_.simpleString).mkString(", ")})")
  }

  /** The kernel with the constants `values` bound, typed
    * `(Object, ...) Object` over the column inputs alone: what the
    * interpreted `eval` calls per row, with no per-row array. */
  private[expressions] def invoker(values: Seq[Any]): MethodHandle =
    MethodHandles.insertArguments(target, inputs.size, values.map(_.asInstanceOf[AnyRef]): _*)
      .asType(MethodType.genericMethodType(inputs.size))

  private[expressions] def callCode(ev: ExprCode, args: Seq[String], values: Seq[Any]): String = {
    val consts = values.map {
      case l: Long => s"${l}L"
      case v => v.toString
    }
    s"${ev.value} = graft.expressions.Kernels.$method(${(args ++ consts).mkString(", ")});"
  }
}

/** The declarations: one per kernel. */
object Native {
  private val declared = Seq.newBuilder[Native]
  private def declare(k: Native): Native = { declared += k; k }
  private val floatArr = ArrayType(FloatType)
  private val longArr = ArrayType(LongType)
  private val longs = ArrayType(LongType, containsNull = false)
  private def int(name: String) = Param(name, IntegerType)
  private def long(name: String) = Param(name, LongType)
  private def ints(fields: String*) =
    StructType(fields.map(StructField(_, IntegerType, nullable = false)))

  val FingerprintBase = 257L

  /** cosine(array<float>, array<float>) → double (0.0 on length mismatch or zero norm). */
  val cosine = declare(Native("graft_cosine", Seq(floatArr, floatArr), DoubleType, "cosineF"))
  /** dot(array<float>, array<float>) → double. */
  val dot = declare(Native("graft_dot", Seq(floatArr, floatArr), DoubleType, "dotF"))
  /** hamming64(bigint, bigint) → int: popcount of XOR. */
  val hamming64 = declare(Native("graft_hamming64", Seq(LongType, LongType), IntegerType,
    "hamming64"))
  /** minhash(array<bigint> element hashes) → k-permutation signature. */
  val minhash = declare(Native("graft_minhash", Seq(longArr), longs, "minHashSignature",
    Seq(int("k"), long("seed"))))
  /** simhash64(array<bigint> element hashes) → bigint. */
  val simhash64 = declare(Native("graft_simhash64", Seq(longArr), LongType, "simHash64"))
  /** shingle_hashes(string) → distinct word-n-gram hashes. */
  val shingleHashes = declare(Native("graft_shingle_hashes", Seq(StringType), longs,
    "shingleHashes", Seq(int("n"))))
  /** char_shingle_hashes(string) → distinct code-point n-gram hashes. */
  val charShingleHashes = declare(Native("graft_char_shingle_hashes", Seq(StringType), longs,
    "charShingleHashes", Seq(int("n"))))
  /** word_shingles(string) → distinct word-n-gram strings. */
  val wordShingles = declare(Native("graft_word_shingles", Seq(StringType),
    ArrayType(StringType, false), "wordShingleStrings", Seq(int("n"))))
  /** word_shingles_all(string) → every word-n-gram occurrence, in order. */
  val wordShinglesAll = declare(Native("graft_word_shingles_all", Seq(StringType),
    ArrayType(StringType, false), "wordShinglesAll", Seq(int("n"))))
  /** text_stats(string) → one-pass stopword/token/punct/char counts. */
  val textStats = declare(Native("graft_text_stats", Seq(StringType),
    ints("s_en", "s_de", "s_fr", "s_es", "s_zh", "n_words", "n_punct", "n_chars"), "textStats"))
  /** gopher_stats(string) → one-pass Gopher hard-rule statistics. */
  val gopherStats = declare(Native("graft_gopher_stats", Seq(StringType),
    ints("n_words", "n_wchars", "n_sym", "n_alpha", "n_lines", "n_bullet", "n_ellipsis",
      "n_stop"), "gopherStats"))
  /** lsh_bands(array<bigint> signature) → one key per band. */
  val lshBands = declare(Native("graft_lsh_bands", Seq(longArr), longs, "lshBandKeys",
    Seq(int("bands"), int("rowsPerBand"))))
  /** minhash_agreement(array<bigint>, array<bigint>) → double ∈ [0,1]. */
  val minhashAgreement = declare(Native("graft_minhash_agreement", Seq(longArr, longArr),
    DoubleType, "minHashAgreement"))
  /** srp_bucket(array<float>) → bigint of packed LSH sign bits. */
  val srpBucket = declare(Native("graft_srp_bucket", Seq(floatArr), LongType, "srpBucket",
    Seq(int("nBits"), long("seed"))))
  /** srp_probes(array<float>) → base bucket + lowest-|margin| bit flips. */
  val srpProbes = declare(Native("graft_srp_probes", Seq(floatArr), longs, "srpProbes",
    Seq(int("nBits"), long("seed"), int("probes"))))
  /** fingerprint64(string) → bigint polynomial rolling hash. */
  val fingerprint64 = declare(Native("graft_fingerprint64", Seq(StringType), LongType,
    "polyFingerprint", Seq(Param("base", LongType, Some(FingerprintBase)))))
  /** sorted_rank(array<double> sorted ASC, double) → bigint: the number
    * of elements strictly below the probe — the equi-depth bucket rank
    * for z-order clustering, one O(log cuts) call instead of a 2^bits−1
    * term comparison fold. Sortedness is the caller's contract. */
  val sortedRank = declare(Native("graft_sorted_rank", Seq(ArrayType(DoubleType), DoubleType),
    LongType, "sortedRankD"))
  /** sorted_contains(array<bigint> sorted ASC, bigint) → boolean:
    * O(log B) membership for broadcast banned/allow sets, where
    * `array_contains` scans linearly. The caller owns the sortedness
    * and no-null-elements contract. */
  val sortedContains = declare(Native("graft_sorted_contains", Seq(longArr, LongType),
    BooleanType, "sortedContains"))
  /** The string flavor, so md5-fingerprint sets keep their 128-bit
    * collision bound (`sort_array` and `UTF8String.compareTo` are both
    * binary-lexicographic). */
  val sortedContainsStr = declare(Native("graft_sorted_contains_str",
    Seq(ArrayType(StringType), StringType), BooleanType, "sortedContainsUtf8",
    planName = Some("graft_sorted_contains")))
  /** sorted_intersect(array<bigint>, array<bigint>) → two-pointer
    * intersection of ASC-sorted distinct arrays, set-equal to
    * `array_intersect` without its per-row boxed hash set. */
  val sortedIntersect = declare(Native("graft_sorted_intersect", Seq(longArr, longArr), longs,
    "sortedIntersectL"))
  /** window_digests(string) → array<struct<s,h1,h2>>: every sliding
    * w-word window as (start, dual 64-bit digest). */
  val windowDigests = declare(Native("graft_window_digests", Seq(StringType),
    ArrayType(StructType(Seq("s", "h1", "h2").map(StructField(_, LongType, nullable = false))),
      containsNull = false),
    "windowDigestPairs", Seq(Param("w", IntegerType, min = Some(1L)))))

  /** Every declaration above, in declaration order. */
  val all: Seq[Native] = declared.result()
}

/** What the unary and binary forms share: everything but the arity. */
sealed trait NativeCall extends Expression {
  def kernel: Native
  def params: Seq[Any]
  override def dataType: DataType = kernel.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = kernel.prettyName
  override def checkInputDataTypes(): TypeCheckResult = kernel.check(children.map(_.dataType))
  // plans print the inputs, then the constants: graft_minhash(h#1, 128, 1)
  override protected def stringArgs: Iterator[Any] = children.iterator ++ params.iterator
}

/** A native kernel over one column input. */
case class NativeUnary(kernel: Native, child: Expression, params: Seq[Any])
    extends UnaryExpression with NativeCall {
  @transient private lazy val run = kernel.invoker(params)
  override def nullSafeEval(a: Any): Any = run.invokeExact(a.asInstanceOf[AnyRef]): AnyRef
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => kernel.callCode(ev, Seq(a), params))
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** A native kernel over two column inputs. */
case class NativeBinary(kernel: Native, left: Expression, right: Expression, params: Seq[Any])
    extends BinaryExpression with NativeCall {
  @transient private lazy val run = kernel.invoker(params)
  override def nullSafeEval(a: Any, b: Any): Any =
    run.invokeExact(a.asInstanceOf[AnyRef], b.asInstanceOf[AnyRef]): AnyRef
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => kernel.callCode(ev, Seq(a, b), params))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Column-level API + SQL registration for the native expressions. */
object GraftFunctions {
  import Native._

  def graft_cosine(a: Column, b: Column): Column = cosine(a, b)
  def graft_dot(a: Column, b: Column): Column = dot(a, b)
  def graft_hamming64(a: Column, b: Column): Column = hamming64(a, b)
  def graft_minhash(hashes: Column, k: Int, seed: Long): Column = minhash(hashes, k, seed)
  def graft_lsh_bands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    lshBands(sig, bands, rowsPerBand)
  def graft_simhash64(hashes: Column): Column = simhash64(hashes)
  def graft_srp_bucket(vec: Column, nBits: Int, seed: Long): Column = srpBucket(vec, nBits, seed)
  def graft_minhash_agreement(a: Column, b: Column): Column = minhashAgreement(a, b)
  def graft_shingle_hashes(text: Column, n: Int): Column = shingleHashes(text, n)
  def graft_word_shingles(text: Column, n: Int): Column = wordShingles(text, n)
  def graft_word_shingles_all(text: Column, n: Int): Column = wordShinglesAll(text, n)
  def graft_text_stats(text: Column): Column = textStats(text)
  def graft_gopher_stats(text: Column): Column = gopherStats(text)
  def graft_char_shingle_hashes(text: Column, n: Int): Column = charShingleHashes(text, n)
  def graft_fingerprint64(text: Column, base: Long = FingerprintBase): Column =
    fingerprint64(text, base)
  def graft_srp_probes(vec: Column, nBits: Int, seed: Long, probes: Int): Column =
    srpProbes(vec, nBits, seed, probes)
  def graft_sorted_contains(sortedArr: Column, v: Column): Column = sortedContains(sortedArr, v)
  def graft_sorted_contains_str(sortedArr: Column, v: Column): Column =
    sortedContainsStr(sortedArr, v)
  def graft_sorted_rank(sortedArr: Column, v: Column): Column = sortedRank(sortedArr, v)
  def graft_sorted_intersect(a: Column, b: Column): Column = sortedIntersect(a, b)
  def graft_window_digests(text: Column, w: Int): Column = windowDigests(text, w)

  /** One-pass exact Gram/moment aggregate over quantized vectors —
    * see [[GramMatrix]]. The input is NOT auto-cast: a raw
    * array<float>/array<double> embedding fails analysis instead of
    * silently truncating toward zero (which would corrupt the "exact"
    * statistics with no signal) — quantize first, e.g.
    * `transform(v, x => floor(x * scale + 0.5).cast("long"))`. */
  def graft_gram(vec: Column, d: Int): Column =
    Bridge.column(GramMatrix(Bridge.expression(vec), d)
      .toAggregateExpression())

  /** Bounded bottom-k aggregate — see [[BoundedTopK]]. `keys` are cast
    * to double; descending order = negate the key. */
  def graft_bounded_topk(payload: Column, keys: Seq[Column], k: Int): Column =
    Bridge.column(BoundedTopK(Bridge.expression(payload),
      keys.map(c => Bridge.expression(c.cast("double"))), k)
      .toAggregateExpression())

  /** Register every declared kernel's SQL name, so
    * `spark.sql("SELECT graft_cosine(a, b) ...")` works — parity with
    * the reference's goal of "write ordinary queries, engine executes
    * them natively". Constant parameters follow the column inputs:
    * `graft_minhash(h, 128, 42)`. */
  def register(spark: SparkSession): Unit = {
    val registry = Bridge.sessionState(spark).functionRegistry
    Native.all.foreach(k => registry.createOrReplaceTempFunction(k.name, k.expr, "built-in"))
  }
}
