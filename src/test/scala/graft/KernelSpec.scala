package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions.col

import graft.functions.{DeletionVariants, FrameEnergy, GraftFunctions, Md5Ops, Shingles}

/** Every SQL-registered kernel, driven off [[GraftFunctions.builders]]
  * so a new registration cannot skip it: a null input gives null, the
  * three evaluation paths (whole-stage codegen, per-expression codegen,
  * interpreted) give equal rows, an argument of a type that cannot be
  * cast fails analysis with DATATYPE_MISMATCH, and the static-argument
  * checks still throw.
  */
class KernelSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  /** Arguments of each registered function over the fixture's columns.
    * Literal arguments (digits or quoted) are the static parameters. */
  private val calls: Map[String, Seq[String]] = Map(
    "graft_cosine" -> Seq("v", "v"),
    "graft_simhash64" -> Seq("toks"),
    "graft_fnv64" -> Seq("s"),
    "graft_ahash64" -> Seq("b"),
    "graft_java_hash" -> Seq("s"),
    "graft_quant_i8" -> Seq("v"),
    "graft_vec_norm2" -> Seq("v"),
    "graft_shingles" -> Seq("toks", "2"),
    "graft_frame_energy" -> Seq("b", "4"),
    "graft_frame_energies" -> Seq("b", "4"),
    "graft_lsh_code" -> Seq("v", "8", "4"),
    "graft_normalize_text" -> Seq("s"),
    "graft_bpe_apply" -> Seq("toks", "'ab'", "'cd'"),
    "graft_log2e20" -> Seq("n"),
    "graft_unigram_viterbi" -> Seq("w", "ps", "ss"),
    "graft_wp_merge" -> Seq("toks", "'ab'", "'cd'", "'abcd'"),
    "graft_wp_match" -> Seq("w", "wps"),
    "graft_md5_u64" -> Seq("s"),
    "graft_md5_ws_u64" -> Seq("toks"),
    "graft_shingle_md5_u64" -> Seq("toks", "2"))

  private def isLiteral(a: String): Boolean = a.head.isDigit || a.head == '\''

  private def call(name: String, args: Seq[String]): String =
    s"$name(${args.mkString(", ")})"

  /** Row 1 holds valid input for every kernel, row 2 is all nulls. A
    * parquet scan, not a local relation, so projections really run
    * through codegen. */
  private lazy val fixture: Unit = {
    val dir = Files.createTempDirectory("kernel_fixture").resolve("t").toString
    Seq(
      (1, Some("Hello, World 42!"), Some("ab"), Some(Seq("ab", "cd", "ab", "cd")),
        Some("hello world payload".getBytes("UTF-8")), Some(Seq(1f, -2f, 3f, 0.5f)),
        Some(1000L), Some(Seq("a", "b", "ab")), Some(Seq(-3L, -3L, -1L)),
        Some(Seq("a", "##b"))),
      (2, None, None, None, None, None, None, None, None, None))
      .toDF("id", "s", "w", "toks", "b", "v", "n", "ps", "ss", "wps")
      .write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("kfix")
  }

  private def rows(expr: String): Seq[Row] = {
    fixture
    spark.sql(s"SELECT id, $expr AS r FROM kfix ORDER BY id").collect().toSeq
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("every SQL-registered kernel has a fixture call") {
    assert(calls.keySet == GraftFunctions.builders.map(_._1).toSet)
  }

  test("null input gives null; valid input gives a value") {
    for ((name, args) <- calls) {
      val Seq(valid, nul) = rows(call(name, args))
      assert(!valid.isNullAt(1), s"$name on valid input")
      assert(nul.isNullAt(1), s"$name on null input")
    }
  }

  test("whole-stage codegen, expression codegen and interpreted eval agree") {
    for ((name, args) <- calls) {
      val expr = call(name, args)
      val wsc = withConf("spark.sql.codegen.wholeStage" -> "true")(rows(expr))
      val exprGen = withConf("spark.sql.codegen.wholeStage" -> "false")(rows(expr))
      val interp = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(rows(expr))
      assert(wsc == exprGen, s"$name: whole-stage vs expression codegen")
      assert(wsc == interp, s"$name: codegen vs interpreted")
    }
  }

  test("an argument type that cannot be cast fails analysis with DATATYPE_MISMATCH") {
    for ((name, args) <- calls) {
      val i = args.indexWhere(a => !isLiteral(a))
      val e = intercept[AnalysisException](
        rows(call(name, args.updated(i, "map(1, 2)"))))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"),
        s"$name: ${e.getCondition}")
    }
  }

  test("static arguments must be literals") {
    for ((name, args) <- calls; i <- args.indices if isLiteral(args(i))) {
      val (column, want) =
        if (args(i).head == '\'') ("s", "must be a string literal")
        else ("id", "must be an integer literal")
      val e = intercept[Exception](rows(call(name, args.updated(i, column))))
      assert(messages(e).contains(want), s"$name arg $i: ${messages(e)}")
    }
  }

  test("a call with too many or too few arguments fails naming the function and its count") {
    for ((name, args) <- calls; bad <- Seq(args :+ "id", args.init)) {
      val e = intercept[Exception](rows(call(name, bad)))
      assert(messages(e).contains(s"$name takes ${args.size} argument(s), got ${bad.size}"),
        s"${call(name, bad)}: ${messages(e)}")
    }
  }

  test("width, maxDel and frame size are still checked") {
    for (bad <- Seq("graft_shingles(toks, 0)", "graft_shingle_md5_u64(toks, 0)"))
      assert(messages(intercept[Exception](rows(bad)))
        .contains("shingle width must be >= 1"), bad)
    for (bad <- Seq("graft_frame_energy(b, 0)", "graft_frame_energies(b, 0)"))
      assert(messages(intercept[Exception](rows(bad)))
        .contains("frameSize must be positive"), bad)
    val c = col("x")
    Seq[() => Any](
      () => Shingles.shingles(c, 0), () => Shingles.shinglesAll(c, 0),
      () => Md5Ops.shingleMd5U64s(c, 0),
      () => DeletionVariants.deletionVariants(c, 3),
      () => DeletionVariants.deletionVariants(c, -1),
      () => FrameEnergy.frameEnergy(c, 0), () => FrameEnergy.frameEnergies(c, 0))
      .foreach(f => intercept[IllegalArgumentException](f()))
  }
}
