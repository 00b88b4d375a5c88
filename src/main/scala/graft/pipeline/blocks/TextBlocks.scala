package graft.pipeline.blocks

import graft.pipeline._

/** Pure-text operators (reference blocks #17-20). `process` is the one
  * implementation: the Runner calls it per fan-out row, and BulkRunner
  * per DataFrame row.
  */
object TextBlocks {

  /** Go strings.TrimLeft(s, " ") — spaces only, not all whitespace
    * ("spaces added automatically by Transcription service",
    * block_text_replace.go:66-76). */
  private def trimLeftSpaces(s: String): String = s.dropWhile(_ == ' ')

  /** Go strings.ReplaceAll: an empty `old` matches at the start and
    * after every rune (Java's replace would split surrogate pairs). */
  private def replaceAll(s: String, old: String, rep: String): String =
    if (old.nonEmpty) s.replace(old, rep)
    else {
      val sb = new java.lang.StringBuilder(rep)
      s.codePoints.forEach { cp => sb.appendCodePoint(cp).append(rep) }
      sb.toString
    }

  /** #17 text_replace (block_text_replace.go:49-79). */
  object TextReplace extends BlockOp {
    override val id = "text_replace"
    override val description = "Replace text in a string"
    override val props = Seq(
      PropSpec("text", TString, required = true),
      PropSpec("old", TString, required = true),
      PropSpec("new", TString, required = true),
      PropSpec("prefix", TString, default = Some(PStr(""))),
      PropSpec("suffix", TString, default = Some(PStr(""))))

    override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
      val text = trimLeftSpaces(row.str("text"))
      val old = trimLeftSpaces(row.str("old"))
      val nw = trimLeftSpaces(row.str("new"))
      val wrapped = trimLeftSpaces(row.str("prefix")) + nw + trimLeftSpaces(row.str("suffix"))
      BlockResult.text(replaceAll(text, old, wrapped))
    }
  }

  /** #18 wrap_text / BlockTextAddPrefixOrSuffix (block_wrap_text.go:49-74). */
  object WrapText extends BlockOp {
    override val id = "wrap_text"
    override val description = "Add prefix or suffix to a text"
    override val props = Seq(
      PropSpec("text", TString, required = true),
      PropSpec("prefix", TString, default = Some(PStr(""))),
      PropSpec("suffix", TString, default = Some(PStr(""))))

    override def process(row: InputRow, ctx: BlockCtx): BlockResult =
      BlockResult.text(
        trimLeftSpaces(row.str("prefix")) + trimLeftSpaces(row.str("text")) +
          trimLeftSpaces(row.str("suffix")))
  }

  /** #19 join_strings (block_join_strings.go:48-80) — fan-in consumer
    * (`array_input: true` wiring); single-item short-circuit is
    * semantically free (join of one element is itself). */
  object JoinStrings extends BlockOp {
    override val id = "join_strings"
    override val description = "Join strings with a separator"
    override val props = Seq(
      PropSpec("strings", TArr(TString), required = true),
      PropSpec("separator", TString, default = Some(PStr(""))))

    override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
      val xs = row.props.getOrElse("strings", PNull).asSeq.map(_.asString)
      BlockResult.text(xs.mkString(row.str("separator")))
    }
  }

  /** #20 format_string_from_object
    * (block_format_string_from_object.go:53-128): `{var}` template
    * substitution from the WHOLE input map (named, not positional — not
    * Spark's format_string); string arrays join with ", "; unknown vars
    * substitute empty; unclosed braces and quoted names are errors. */
  object FormatString extends BlockOp {
    override val id = "format_string_from_object"
    override val description = "Format a string from object fields"
    override val props = Seq(
      PropSpec("template", TString, default = Some(PStr(""))))

    def formatString(template: String, vars: Map[String, PValue]): Either[String, String] = {
      val out = new StringBuilder
      var i = 0
      val n = template.length
      while (i < n) {
        if (template(i) == '{') {
          val close = template.indexOf('}', i + 1)
          if (close < 0) return Left("unclosed brace found in template")
          val name = template.substring(i + 1, close)
          if (name.contains("\"")) return Left("variable name contains invalid double quotes")
          vars.get(name).foreach {
            case PArr(vs) => out ++= vs.map(_.asString).mkString(", ")
            case v        => out ++= v.asString
          }
          i = close + 1
        } else { out += template(i); i += 1 }
      }
      Right(out.toString)
    }

    override def process(row: InputRow, ctx: BlockCtx): BlockResult =
      formatString(row.str("template"), row.props) match {
        case Left(err) => throw new IllegalArgumentException(err)
        case Right(s)  => BlockResult.text(s)
      }
  }

  val all: Seq[BlockOp] = Seq(TextReplace, WrapText, JoinStrings, FormatString)
}
