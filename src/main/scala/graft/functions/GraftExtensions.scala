package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.model.DedupConfig
import graft.sig.Signatures

/** SparkSessionExtensions entry point: exposes nine of the engine's native
  * kernels to SQL, so `spark.sql("SELECT sorted_intersect_card(a, b)")`
  * works on any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * (Preference order (c) of the build rules — registered extension point;
  * the engine itself needs no custom planner strategies because every
  * operator lowers to stock Catalyst plans, SURVEY.md §7.3.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** A config-style argument (k, bands, bits...) must be a foldable int
    * literal: it parameterizes the generated code, so a per-row value is
    * meaningless.
    */
  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case lit: Literal if lit.foldable && lit.value != null =>
      lit.value match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$fn: argument ${pos + 1} must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be a foldable integer literal")
  }

  private def boolArg(e: Expression, fn: String, pos: Int): Boolean = e match {
    case lit: Literal if lit.foldable && lit.value.isInstanceOf[Boolean] =>
      lit.value.asInstanceOf[Boolean]
    case _ => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be a boolean literal")
  }

  private def arity(fn: String, children: Seq[Expression], n: Int): Unit =
    if (children.length != n)
      throw new IllegalArgumentException(
        s"$fn requires exactly $n arguments, got ${children.length}")

  private def fnEntry(name: String, usage: String, build: Seq[Expression] => Column) = (
    new FunctionIdentifier(name),
    new ExpressionInfo(classOf[NativeKernel].getName, null, name, usage,
      "", "", "", "misc_funcs", "", "", "java_udf"),
    (children: Seq[Expression]) => expression(build(children)))

  /** The engine's SQL surface: nine of the native kernels, callable on any
    * session built with `.withExtensions(new GraftExtensions)` or
    * `spark.sql.extensions=graft.functions.GraftExtensions` — a SQL user
    * can assemble the dedup feature pipeline (normalize → shingle →
    * minhash → band keys; simhash; dot products) without the Scala API.
    * Each function is built by its kernel's Column constructor, so SQL and
    * the Scala API plan the same [[NativeKernel]] expression.
    */
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fnEntry("sorted_intersect_card",
      "_FUNC_(a, b) - Intersection cardinality of two array<bigint> that are " +
        "sorted ascending and distinct (PRECONDITION: unsorted input undercounts).",
      { children =>
        arity("sorted_intersect_card", children, 2)
        SortedIntersect.card(column(children(0)), column(children(1)))
      }))
    ext.injectFunction(fnEntry("normalize_text",
      "_FUNC_(s) - Caption normalization: lowercase, NFD accent fold, braced-term " +
        "strip, non-alphanumerics removed, whitespace collapsed.",
      { children =>
        arity("normalize_text", children, 1)
        Signatures.normalizeCol(column(children.head))
      }))
    ext.injectFunction(fnEntry("hashed_shingles",
      "_FUNC_(s, k) - Sorted distinct xxhash64 values of the char-k shingles of a " +
        "normalized (ASCII) string; strings shorter than k hash whole.",
      { children =>
        arity("hashed_shingles", children, 2)
        Signatures.hashedShinglesCol(column(children.head),
          intArg(children(1), "hashed_shingles", 1))
      }))
    ext.injectFunction(fnEntry("simhash_words",
      "_FUNC_(s, bits[, fast]) - SimHash over the space-separated tokens of a " +
        "normalized string; fast=true (default) hashes tokens with xxhash64, " +
        "false with the md5-based hash60.",
      { children =>
        if (children.length != 2 && children.length != 3)
          throw new IllegalArgumentException(
            s"simhash_words requires 2 or 3 arguments, got ${children.length}")
        val bits = intArg(children(1), "simhash_words", 1)
        val fast = children.length == 2 || boolArg(children(2), "simhash_words", 2)
        if (fast) Signatures.simHashFastCol(column(children.head), bits)
        else Signatures.simHashWordsCol(column(children.head), bits)
      }))
    ext.injectFunction(fnEntry("minhash_sig",
      "_FUNC_(hashes, num_hashes, seed) - MinHash signature (array<bigint>) of " +
        "pre-hashed shingles under the engine's deterministic affine permutations.",
      { children =>
        arity("minhash_sig", children, 3)
        val n = intArg(children(1), "minhash_sig", 1)
        val seed = intArg(children(2), "minhash_sig", 2).toLong
        // bands = 1: the signature reads only numHashes and seed, and any
        // num_hashes divides into one band
        Signatures.minHashFromHashesCol(column(children.head),
          DedupConfig(numHashes = n, bands = 1, seed = seed))
      }))
    ext.injectFunction(fnEntry("band_keys",
      "_FUNC_(sig, bands) - String LSH band keys ('band:v1,v2,...') of a MinHash " +
        "signature.",
      { children =>
        arity("band_keys", children, 2)
        Signatures.bandKeysCol(column(children.head), intArg(children(1), "band_keys", 1))
      }))
    ext.injectFunction(fnEntry("band_hash_keys",
      "_FUNC_(sig, bands) - Hashed 58-bit long LSH band keys (compact blocking " +
        "index form).",
      { children =>
        arity("band_hash_keys", children, 2)
        Signatures.bandHashKeysCol(column(children.head),
          intArg(children(1), "band_hash_keys", 1))
      }))
    ext.injectFunction(fnEntry("bit_block_keys",
      "_FUNC_(h, blocks, total_bits) - Pigeonhole bit-block keys ('i:v') of a " +
        "64-bit hash for Hamming-bounded blocking.",
      { children =>
        arity("bit_block_keys", children, 3)
        Signatures.bitBlockKeysCol(column(children.head),
          intArg(children(1), "bit_block_keys", 1), intArg(children(2), "bit_block_keys", 2))
      }))
    ext.injectFunction(fnEntry("float_dot",
      "_FUNC_(a, b) - Dot product of two array<float> as a sequential double fold " +
        "(bit-identical to DuckDB's list_dot_product).",
      { children =>
        arity("float_dot", children, 2)
        FloatDotProduct(column(children(0)), column(children(1)))
      }))
  }
}
