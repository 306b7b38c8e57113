package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL registration of the engine's codegen'd kernels, so a pure-SQL
  * user (`spark.sql(...)`) reaches the same primitives the DataFrame
  * API does — the library surface without any Scala imports:
  *
  * {{{
  * SELECT graft_cosine(a.embedding, b.embedding)      -- fused cosine
  * SELECT graft_simhash64(split(text, ' '))           -- 64-bit SimHash
  * SELECT graft_fnv64(token)                          -- FNV-1a-64 of a string
  * SELECT graft_ahash64(payload)                      -- 64-bit average hash
  * SELECT graft_java_hash(user_id)                    -- A15 bucket hash
  * SELECT graft_vec_norm2(embedding)                  -- Σx² finite-vector check
  * SELECT graft_lsh_code(embedding, 8, 64)            -- sign-LSH code
  * SELECT graft_shingles(split(text, ' '), 3)         -- distinct 3-grams
  * SELECT graft_quant_i8(embedding)                   -- int8 quant stats
  * SELECT graft_frame_energy(payload, 32)             -- frame byte energy
  * SELECT graft_frame_energies(payload, 32)           -- per-frame energy array
  * SELECT graft_normalize_text(text)                  -- canonicalize (r12)
  * SELECT graft_bpe_apply(toks, 'a', 'b')             -- one BPE merge (r12)
  * SELECT graft_log2e20(n)                            -- exact fixed-point log2 (r13)
  * SELECT graft_unigram_viterbi(w, ps, ss)            -- unigram Viterbi seg (r14)
  * SELECT graft_wp_merge(toks, 'a', '##b', 'ab')      -- one WordPiece merge (r14)
  * SELECT graft_wp_match(w, pieces)                   -- WordPiece longest-match (r14)
  * SELECT graft_md5_u64(x)                            -- first 8 md5 bytes as long (r15)
  * SELECT graft_md5_ws_u64(arr)                       -- md5 u64 of space-joined array (r15)
  * SELECT graft_shingle_md5_u64(split(text,' '), 5)   -- per-window shingle md5 u64s (r15)
  * }}}
  *
  * Two registration paths sharing ONE builder list:
  *  - [[GraftFunctions.register]] on any live session (tests, REPL);
  *  - [[graft.GraftExtensions]] via
  *    `spark.sql.extensions=graft.GraftExtensions` at session build —
  *    the deployment path, which also survives `newSession()`.
  * Static arguments (plane counts, shingle width, frame size, merge
  * tokens) must be literals — they parameterize generated code, exactly
  * like the DataFrame API's Scala arguments.
  */
object GraftFunctions {

  private def intLit(c: Column, what: String): Int =
    GraftBridge.expression(c) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

  private def strLit(c: Column, what: String): String =
    GraftBridge.expression(c) match {
      case Literal(v: UTF8String, StringType) => v.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }

  /** (name, expression builder) — the single source for both paths.
    * Each builder calls the function's Column entry point, so SQL and
    * DataFrame callers get the same expression and the same argument
    * checks; the shared wrapper first checks the argument count, so a
    * call with too many or too few arguments fails naming the function. */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, Int, Seq[Column] => Column)](
      ("graft_cosine", 2, cs => VectorOps.cosine(cs(0), cs(1))),
      ("graft_simhash64", 1, cs => SimHash64.simHash64(cs.head)),
      ("graft_fnv64", 1, cs => Fnv64.fnv64(cs.head)),
      ("graft_ahash64", 1, cs => AHash64.aHash64(cs.head)),
      ("graft_java_hash", 1, cs => JavaHash.javaHash(cs.head)),
      ("graft_quant_i8", 1, cs => VectorOps.quantI8Stats(cs.head)),
      ("graft_vec_norm2", 1, cs => VectorOps.vecNorm2(cs.head)),
      ("graft_shingles", 2, cs =>
        Shingles.shingles(cs.head, intLit(cs(1), "shingle width"))),
      ("graft_frame_energy", 2, cs =>
        FrameEnergy.frameEnergy(cs.head, intLit(cs(1), "frame size"))),
      ("graft_frame_energies", 2, cs =>
        FrameEnergy.frameEnergies(cs.head, intLit(cs(1), "frame size"))),
      ("graft_lsh_code", 3, cs =>
        VectorOps.lshCode(cs.head, VectorOps.hashPlanes(
          intLit(cs(1), "plane count"), intLit(cs(2), "dim")))),
      ("graft_normalize_text", 1, cs => NormalizeText.normalizeText(cs.head)),
      ("graft_bpe_apply", 3, cs =>
        BpeApply.bpeApply(cs.head, strLit(cs(1), "merge pair left"),
          strLit(cs(2), "merge pair right"))),
      ("graft_log2e20", 1, cs => ExactMath.log2e20(cs.head)),
      ("graft_unigram_viterbi", 3, cs =>
        UnigramViterbi.unigramViterbi(cs(0), cs(1), cs(2))),
      ("graft_wp_merge", 4, cs =>
        WordPieceOps.wpMerge(cs.head, strLit(cs(1), "merge pair left"),
          strLit(cs(2), "merge pair right"), strLit(cs(3), "merged token"))),
      ("graft_wp_match", 2, cs => WordPieceOps.wpMatch(cs(0), cs(1))),
      ("graft_md5_u64", 1, cs => Md5Ops.md5U64(cs.head)),
      ("graft_md5_ws_u64", 1, cs => Md5Ops.md5WsU64(cs.head)),
      ("graft_shingle_md5_u64", 2, cs =>
        Md5Ops.shingleMd5U64s(cs.head, intLit(cs(1), "shingle width")))
    ).map { case (name, arity, f) =>
      name -> ((es: Seq[Expression]) => {
        if (es.size != arity) throw new IllegalArgumentException(
          s"$name takes $arity argument(s), got ${es.size}")
        GraftBridge.converted(f(es.map(GraftBridge.column)))
      })
    }

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftFunctions.type].getName, name)

  /** Register every function on a live session's catalog. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info(name), es => b(es))
    }

  /** Injection list for [[graft.GraftExtensions]]. */
  def inject(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), es => b(es)))
    }
}
