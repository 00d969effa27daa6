package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.codecs._

/** SQL surface for graft's custom expressions: register once and
  * every codec/kernel is callable from `spark.sql(...)` exactly like
  * a built-in — `SELECT graft_decode_tensor(cell, 'float64').data`.
  *
  * Two entry points:
  *  - cluster config: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (injected at session build — the standard extensions mechanism);
  *  - existing session: `GraftExtensions.registerAll(spark)`.
  */
object GraftExtensions {

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case _ => throw new IllegalArgumentException(s"$what must be a string literal")
  }
  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(s"$what must be an int literal")
  }
  private def litBool(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be a boolean literal")
  }

  /** name → (arity description, builder). */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_encode_tensor" -> { args =>
      require(args.length == 3 || args.length == 4,
        "graft_encode_tensor(dims, data, dtype[, compressed])")
      EncodeTensor(args(0), args(1), litString(args(2), "dtype"),
        args.length == 4 && litBool(args(3), "compressed"))
    },
    "graft_decode_tensor" -> { args =>
      require(args.length == 2, "graft_decode_tensor(bin, dtype)")
      DecodeTensor(args(0), litString(args(1), "dtype"))
    },
    "graft_encode_image" -> { args =>
      require(args.length == 3 || args.length == 4,
        "graft_encode_image(dims, data, format[, quality])")
      EncodeImage(args(0), args(1), litString(args(2), "format"),
        if (args.length == 4) litInt(args(3), "quality") else 80)
    },
    "graft_decode_image" -> { args =>
      require(args.length == 1, "graft_decode_image(bin)")
      DecodeImage(args(0))
    },
    "graft_resize_nearest" -> { args =>
      require(args.length == 4, "graft_resize_nearest(dims, data, newH, newW)")
      ResizeNearest(args(0), args(1), litInt(args(2), "newH"),
        litInt(args(3), "newW"))
    },
    "graft_dot" -> { args =>
      require(args.length == 2, "graft_dot(a, b)")
      DotProduct(args(0), args(1))
    },
    "graft_simhash32" -> { args =>
      require(args.length == 1, "graft_simhash32(hashes)")
      SimHash32(args(0))
    },
    "graft_decode_pcm16" -> { args =>
      require(args.length == 1, "graft_decode_pcm16(bin)")
      DecodePcm16(args(0))
    },
    "graft_winnow_fingerprints" -> { args =>
      require(args.length == 3, "graft_winnow_fingerprints(text, k, w)")
      WinnowFingerprint(args(0), litInt(args(1), "k"), litInt(args(2), "w"))
    },
    "graft_npy_shape" -> { args =>
      require(args.length == 1, "graft_npy_shape(bin)")
      NpyShape(args(0))
    },
    "graft_npy_descr" -> { args =>
      require(args.length == 1, "graft_npy_descr(bin)")
      NpyDescr(args(0))
    },
    "graft_npy_longs" -> { args =>
      require(args.length == 1, "graft_npy_longs(bin)")
      NpyLongs(args(0))
    },
    "graft_npy_doubles" -> { args =>
      require(args.length == 1, "graft_npy_doubles(bin)")
      NpyDoubles(args(0))
    },
    "graft_npy_strings" -> { args =>
      require(args.length == 1, "graft_npy_strings(bin)")
      NpyStrings(args(0))
    },
    "graft_npy_from_longs" -> { args =>
      require(args.length == 3, "graft_npy_from_longs(data, dims, descr)")
      NpyFromLongs(args(0), args(1), litString(args(2), "descr"))
    },
    "graft_npy_from_doubles" -> { args =>
      require(args.length == 3, "graft_npy_from_doubles(data, dims, descr)")
      NpyFromDoubles(args(0), args(1), litString(args(2), "descr"))
    },
    "graft_luhn_valid" -> { args =>
      require(args.length == 1, "graft_luhn_valid(str)")
      graft.ops.LuhnValid(args(0))
    },
    "graft_quantize_int8" -> { args =>
      require(args.length == 1, "graft_quantize_int8(vec)")
      QuantizeInt8(args(0))
    },
    "graft_dot_i8" -> { args =>
      require(args.length == 2, "graft_dot_i8(a, b)")
      DotI8(args(0), args(1))
    },
    "graft_array_sum_long" -> { args =>
      require(args.length == 1, "graft_array_sum_long(arr)")
      ArraySumLong(args(0))
    },
    "graft_floor_micros" -> { args =>
      require(args.length == 1, "graft_floor_micros(vec)")
      FloorMicros(args(0))
    },
    "graft_hashed_gram_counts" -> { args =>
      require(args.length == 3, "graft_hashed_gram_counts(toks, n, buckets)")
      HashedGramCounts(args(0), litInt(args(1), "n"),
        litInt(args(2), "buckets"))
    },
    "graft_ticket_race_min" -> { args =>
      require(args.length == 3, "graft_ticket_race_min(h1, h2, w)")
      TicketRaceMin(args(0), args(1), args(2))
    },
    "graft_simple_lower" -> { args =>
      require(args.length == 1, "graft_simple_lower(text)")
      graft.ops.SimpleLower(args(0))
    },
    "graft_nfc_normalize" -> { args =>
      require(args.length == 1, "graft_nfc_normalize(text)")
      graft.ops.NfcNormalize(args(0))
    },
    "graft_script_counts" -> { args =>
      require(args.length == 1, "graft_script_counts(text)")
      graft.ops.ScriptCounts(args(0))
    },
    "graft_repeated_gram_starts" -> { args =>
      require(args.length == 2, "graft_repeated_gram_starts(tokens, n)")
      graft.ops.RepeatedGramStarts(args(0), litInt(args(1), "n"))
    },
    "graft_splice_out_spans" -> { args =>
      require(args.length == 3, "graft_splice_out_spans(tokens, starts, n)")
      graft.ops.SpliceOutSpans(args(0), args(1), litInt(args(2), "n"))
    },
    // merges as a 'l r,l r,…' string literal — tokens are letter/
    // digit runs by the tokenizer contract, so space and comma are
    // safe delimiters; '' = no merges (character segmentation)
    "graft_apply_bpe" -> { args =>
      require(args.length == 2, "graft_apply_bpe(tok, 'l r,l r,…')")
      graft.ops.ApplyBpe(args(0), parseMerges(litString(args(1), "merges")))
    },
    "graft_apply_bpe_tokens" -> { args =>
      require(args.length == 2,
        "graft_apply_bpe_tokens(tokens, 'l r,l r,…')")
      graft.ops.ApplyBpeTokens(args(0),
        parseMerges(litString(args(1), "merges")))
    },
    // keywords as a ','-separated string literal (keywords carrying
    // commas need the Column API, TextAnalysis.tagKeywordsFast)
    "graft_ac_counts" -> { args =>
      require(args.length == 2, "graft_ac_counts(text, 'kw,kw,…')")
      AcMatchCounts(args(0),
        litString(args(1), "keywords").split(",").toSeq
          .map(_.trim).filter(_.nonEmpty))
    },
    // vocabulary as 'piece:cost,piece:cost' (pieces are tokenizer
    // alphabet runs — ':' and ',' are outside it by contract)
    "graft_unigram_segment_tokens" -> { args =>
      require(args.length == 3,
        "graft_unigram_segment_tokens(tokens, 'p:c,p:c,…', unkCost)")
      val pieces = litString(args(1), "vocab").split(",").toSeq
        .map(_.trim).filter(_.nonEmpty).map { pc =>
          val i = pc.lastIndexOf(':')
          require(i > 0, s"bad piece:cost '$pc'")
          (pc.substring(0, i), pc.substring(i + 1).trim.toLong)
        }
      graft.ops.UnigramSegmentTokens(args(0), pieces,
        litInt(args(2), "unkCost").toLong)
    })

  private def parseMerges(spec: String): Seq[(String, String)] =
    spec.split(",").iterator.map(_.trim).filter(_.nonEmpty)
      .map { m =>
        val p = m.split(" ", 2)
        require(p.length == 2 && p(0).nonEmpty && p(1).nonEmpty,
          s"merge '$m' must be 'left right'")
        (p(0), p(1))
      }.toSeq

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft.functions.GraftExtensions", name)

  /** Register into an already-built session. */
  def registerAll(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info(name), builder)
    }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftExtensions", name), builder))
    }
    // SQL UPDATE over GraftCatalog tables → the copy-on-write
    // predicate update (see [[graft.sources.GraftDml]])
    ext.injectPostHocResolutionRule(session =>
      graft.sources.GraftDml.UpdateRule(session))
    // bare SELECT count(*)/min/max over a catalog store: priced from
    // footers (rowCountMeta, MoR-exact) and the _stats sidecar
    // (statsMinMax) — must run BEFORE the inline rule eats the
    // effective relation (injection order = batch order)
    ext.injectOptimizerRule(session =>
      graft.sources.GraftMetaAggRule(session))
    // SQL reads of MoR/renamed stores: splice the engine's native
    // effective-read plan over the V1Scan bridge (columnar batches +
    // codegen restored; see [[graft.sources.GraftEffInlineRule]])
    ext.injectOptimizerRule(session =>
      graft.sources.GraftEffInlineRule(session))
    // a small shuffled GraftRead epoch: decode in the scan's tasks,
    // order on the driver (see EpochBridge)
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graftbridge.EpochBridge.Planner)
  }
}
