package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}

/**
 * The Solr/Lucene query-string surface compiled to Catalyst `Column`
 * predicates — the query language a user of the reference's indexes
 * actually types (`q=field:term AND price:[10 TO 20]`), re-expressed
 * so the SAME query text filters any DataFrame.
 *
 * Supported grammar (the standard lucene parser's core; reference
 * queries in e.g. SolrIndexDriverTest use exactly this shape):
 *
 *   query     := clause ( (AND|OR) clause )*        (left-assoc)
 *   clause    := [+|-|NOT] atom
 *   atom      := '(' query ')' | field ':' value | value
 *   value     := '*'                 match-any (field presence)
 *              | '"phrase words"'    phrase  (optional ~N proximity slop)
 *              | '[a TO b]'          inclusive range  ('{' '}' exclusive)
 *              | term                possibly with * and ? wildcards
 *
 * Semantics against a DataFrame (declared, deterministic divergences
 * from a Lucene index — there is no analyzer chain here):
 *  - fields in `textFields` are ANALYZED: a term matches as a whole
 *    lowercase alphanumeric token anywhere in the column; a phrase
 *    matches as a consecutive token sequence. Everything else is
 *    EXACT string/number comparison (docValues-style).
 *  - ranges on numeric columns compare numerically; on other columns
 *    lexicographically (Solr string fields do the same).
 *  - wildcard terms compile to anchored regexes (`*` → `.*`, `?` →
 *    `.`); on text fields the anchors are token boundaries.
 *  - bare (fieldless) values hit `defaultField`, as with Solr's `df`.
 *  - `+` is a no-op marker (everything unmarked is already required
 *    under explicit boolean structure); `-`/`NOT` negate. Adjacent
 *    clauses with no operator default to AND (q.op=AND), so results
 *    are purely conjunctive-compositional and thus ORACLE-ABLE — the
 *    scoring-based MM behavior of q.op=OR has no DataFrame analog.
 *
 * All predicates are plain Catalyst expressions (equality, comparison,
 * rlike) — pushdown-eligible, codegen-friendly, no UDFs.
 */
object SolrQueryString {

  /** Compile `q` to a boolean Column over `schema`. `now` anchors
    * date-math range bounds ([[DateMath]]); absent, date math is a
    * parse error — the caller must opt into an explicit instant, the
    * engine never reads the wall clock. */
  def compile(q: String, schema: StructType, defaultField: String,
              textFields: Set[String] = Set.empty,
              now: Option[java.time.Instant] = None): Column =
    compileWithTerms(q, schema, defaultField, textFields, now)._1

  /** Compile AND collect the POSITIVE analyzed terms (plain terms and
    * phrase tokens on text fields outside any NOT/- scope, query
    * order, deduped) — the term set a ranking pass scores with, per
    * Solr's query/rank split. Wildcard and range clauses contribute no
    * ranking terms. */
  def compileWithTerms(q: String, schema: StructType, defaultField: String,
                       textFields: Set[String] = Set.empty,
                       now: Option[java.time.Instant] = None): (Column, Seq[String]) = {
    val p = new Parser(q, schema, defaultField, textFields, now)
    val c = p.parseQuery()
    p.expectEnd()
    (c, p.positiveTerms)
  }

  private val TokenPrefix = "(^|[^a-z0-9])"
  private val TokenSuffix = "([^a-z0-9]|$)"

  /** The whole-token regex an analyzed `field:term` compiles to, run
    * over `lower(field)`. */
  private def tokenPattern(term: String): String =
    TokenPrefix + java.util.regex.Pattern.quote(term) + TokenSuffix

  /** Inverse of the whole-token regex: the analyzed token `pattern`
    * matches, when it is exactly one token of the index analyzer
    * ([[graft.index.SegmentIndex.analyze]] — lowercase ASCII
    * alphanumerics). `rlike(lower(f), pattern)` then holds exactly
    * for the docs in that token's postings, so index-served callers
    * can answer it as a posting lookup. */
  private[graft] def analyzedTokenOf(pattern: String): Option[String] =
    if (!pattern.startsWith(TokenPrefix) || !pattern.endsWith(TokenSuffix)) None
    else {
      val quoted = pattern.substring(TokenPrefix.length, pattern.length - TokenSuffix.length)
      Some(quoted.stripPrefix("\\Q").stripSuffix("\\E"))
        .filter(t => t.nonEmpty && t.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')))
        .filter(t => tokenPattern(t) == pattern)
    }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | DoubleType | FloatType => true
    case _ => false
  }

  private final class Parser(input: String, schema: StructType,
                             defaultField: String, textFields: Set[String],
                             now: Option[java.time.Instant]) {
    private var pos = 0
    private var negDepth = 0
    private val collected = scala.collection.mutable.LinkedHashSet.empty[String]
    def positiveTerms: Seq[String] = collected.toSeq
    private def record(tokens: Seq[String]): Unit =
      if (negDepth % 2 == 0) collected ++= tokens

    def parseQuery(): Column = {
      var acc = parseClause()
      var continue = true
      while (continue) {
        skipWs()
        if (eof || peek == ')') continue = false
        else if (tryKeyword("AND")) acc = acc && parseClause()
        else if (tryKeyword("OR")) acc = acc || parseClause()
        else acc = acc && parseClause() // implicit conjunction (q.op=AND)
      }
      acc
    }

    private def parseClause(): Column = {
      skipWs()
      if (tryKeyword("NOT")) {
        negDepth += 1
        val c = try parseClause() finally negDepth -= 1
        return !c
      }
      if (!eof && peek == '-') {
        pos += 1
        negDepth += 1
        val c = try parseAtom() finally negDepth -= 1
        return !c
      }
      if (!eof && peek == '+') { pos += 1 } // required marker: no-op
      parseAtom()
    }

    private def parseAtom(): Column = {
      skipWs()
      require(!eof, s"unexpected end of query at $pos in: $input")
      if (peek == '(') {
        pos += 1
        val inner = parseQuery()
        skipWs()
        require(!eof && peek == ')', s"unbalanced ( in: $input")
        pos += 1
        inner
      } else {
        val start = pos
        val tok = readBareToken()
        if (!eof && peek == ':') { pos += 1; fieldValue(tok) }
        else { pos = start; valueOn(defaultField) } // re-read as default-field value
      }
    }

    private def fieldValue(field: String): Column = {
      require(field == "*" || schema.fieldNames.contains(field),
        s"unknown field '$field' in: $input")
      if (field == "*") { // *:* — match all
        skipWs()
        require(!eof && peek == '*', s"only *:* is valid for field * in: $input")
        pos += 1
        lit(true)
      } else valueOn(field)
    }

    private def valueOn(field: String): Column = {
      skipWs()
      require(!eof, s"missing value for field '$field' in: $input")
      val c = col(field)
      peek match {
        case '"' =>
          val phrase = readQuoted()
          // proximity suffix: "a b"~N (Lucene sloppy phrase). Declared
          // semantics: ORDERED match with up to N non-matching tokens
          // in each gap — exactly Lucene for two-term phrases with
          // slop<2 (a transposed pair costs 2 moves); for wider slops
          // Lucene additionally admits reordered arrangements, which
          // this compiler deliberately does not (regex-expressible,
          // hence oracle-able — same trade as q.op=AND above).
          val slop =
            if (!eof && peek == '~') {
              pos += 1
              val sb = new StringBuilder
              while (!eof && peek.isDigit) { sb.append(peek); pos += 1 }
              require(sb.nonEmpty, s"~ needs a slop integer in: $input")
              sb.toString.toInt
            } else 0
          if (textFields.contains(field)) {
            record(phrase.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty))
            tokenSeqMatch(c, phrase, slop)
          } else {
            require(slop == 0, s"proximity needs an analyzed field in: $input")
            c === phrase
          }
        case '[' | '{' =>
          val loInc = peek == '['
          pos += 1
          val lo = readRangeBound()
          skipWs(); require(tryKeyword("TO"), s"range needs TO in: $input")
          val hi = readRangeBound()
          skipWs()
          require(!eof && (peek == ']' || peek == '}'), s"unterminated range in: $input")
          val hiInc = peek == ']'
          pos += 1
          rangePredicate(field, c, lo, hi, loInc, hiInc)
        case _ =>
          val term = readBareToken()
          require(term.nonEmpty, s"empty term at $pos in: $input")
          val fuzzy = "^(.+)~([0-2]?)$".r
          if (term == "*") c.isNotNull // field presence
          else if (term.exists(ch => ch == '*' || ch == '?'))
            wildcardMatch(c, term, textFields.contains(field))
          else term match {
            case fuzzy(base, ed) =>
              // Lucene fuzzy (`term~`, `term~1`, `term~2`): edit
              // distance over the VALUE (exact fields) or over each
              // TOKEN (analyzed fields). Ranking keeps the base term
              // (Solr's closeness-weighted fuzzy scoring is out of
              // declared scope).
              val maxE = if (ed.isEmpty) 2 else ed.toInt
              if (textFields.contains(field)) {
                record(base.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty))
                fuzzyMatch(c, base, maxE, analyzed = true)
              } else fuzzyMatch(c, base, maxE, analyzed = false)
            case _ => plainTerm(c, field, term)
          }
      }
    }

    private def plainTerm(c: Column, field: String, term: String): Column =
      if (textFields.contains(field)) {
        // record the ANALYZED tokens (a term like "don't" filters
        // as a literal but ranks as its tokens, same as the phrase
        // path — a raw term with punctuation would never equal an
        // analyzer-produced token and silently score 0)
        record(term.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty))
        tokenMatch(c, term)
      } else c === term

    /** Fuzzy predicate: Levenshtein ≤ maxEdits against the value
      * (exact fields, case-sensitive like `===`) or against every
      * TOKEN (analyzed fields, case-folded) — codegen'd
      * `levenshtein()` inside an `exists()` lambda, no UDF. The
      * empty-token guard stops `ab~2` matching every document through
      * the zero-length token a trailing separator produces. */
    private def fuzzyMatch(c: Column, base: String, maxEdits: Int,
                           analyzed: Boolean): Column =
      if (analyzed)
        exists(split(lower(c), "[^a-z0-9]+"),
          t => t =!= lit("") && levenshtein(t, lit(base.toLowerCase)) <= maxEdits)
      else levenshtein(c, lit(base)) <= maxEdits

    private def rangePredicate(field: String, c: Column, lo: String, hi: String,
                               loInc: Boolean, hiInc: Boolean): Column = {
      // numeric columns compare numerically; timestamp/date columns get
      // their bound strings cast by Spark's comparison coercion (or
      // resolved through Solr date math when `now` is provided); other
      // columns compare lexicographically (Solr string-field behavior)
      val numeric = schema.fields.find(_.name == field).exists(f => isNumeric(f.dataType))
      def side(v: String): Column =
        if (!numeric) {
          if (DateMath.looksLikeDateMath(v)) now match {
            // formatted as a plain UTC wall-clock string so Spark's
            // comparison coercion casts it to the column's flavor
            // (TIMESTAMP and TIMESTAMP_NTZ both — the segment store
            // serves NTZ; the session is pinned UTC so they agree)
            case Some(anchor) => lit(java.time.LocalDateTime.ofInstant(
              DateMath.resolve(v, anchor), java.time.ZoneOffset.UTC)
              .format(java.time.format.DateTimeFormatter
                .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")))
            case None => throw new IllegalArgumentException(
              s"date math '$v' needs an explicit NOW anchor (pass now=) in: $input")
          } else lit(v)
        }
        else lit(try v.toDouble catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"non-numeric range bound '$v' for numeric field '$field' in: $input")
        })
      val cc = if (numeric) c.cast(DoubleType) else c
      val loC = if (lo == "*") lit(true) else if (loInc) cc >= side(lo) else cc > side(lo)
      val hiC = if (hi == "*") lit(true) else if (hiInc) cc <= side(hi) else cc < side(hi)
      loC && hiC
    }

    /** Whole-token match inside an analyzed text column: the term as a
      * lowercase alphanumeric token with non-token (or edge) chars on
      * both sides. */
    private def tokenMatch(c: Column, term: String): Column =
      lower(c).rlike(tokenPattern(term.toLowerCase))

    /** Phrase = the token sequence with single non-token separators;
      * slop > 0 additionally admits up to `slop` whole tokens in each
      * inter-term gap (ordered proximity — see the parse-site note). */
    private def tokenSeqMatch(c: Column, phrase: String, slop: Int = 0): Column = {
      val toks = phrase.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val gap =
        if (slop == 0) "[^a-z0-9]+"
        else s"[^a-z0-9]+(?:[a-z0-9]+[^a-z0-9]+){0,$slop}"
      if (toks.isEmpty) lit(true)
      else lower(c).rlike("(^|[^a-z0-9])" +
        toks.map(java.util.regex.Pattern.quote).mkString(gap) +
        "([^a-z0-9]|$)")
    }

    /** Analyzed fields: wildcards range over TOKEN characters and the
      * term is case-folded like every other analyzed match. Exact
      * fields: Lucene semantics — `*` -> `.*`, `?` -> `.`, case
      * SENSITIVE (consistent with `c === term` for plain terms). */
    private def wildcardMatch(c: Column, term: String, analyzed: Boolean): Column = {
      def compile(t: String, star: String, one: String): String = {
        val sb = new StringBuilder
        t.foreach {
          case '*' => sb.append(star)
          case '?' => sb.append(one)
          case ch => sb.append(java.util.regex.Pattern.quote(ch.toString))
        }
        sb.toString
      }
      if (analyzed)
        lower(c).rlike("(^|[^a-z0-9])" + compile(term.toLowerCase, "[a-z0-9]*", "[a-z0-9]") +
          "([^a-z0-9]|$)")
      else c.rlike("^" + compile(term, ".*", ".") + "$")
    }

    // --- lexing helpers ---
    private def eof: Boolean = pos >= input.length
    private def peek: Char = input.charAt(pos)
    private def skipWs(): Unit = while (!eof && peek.isWhitespace) pos += 1

    private def tryKeyword(kw: String): Boolean = {
      skipWs()
      if (input.regionMatches(pos, kw, 0, kw.length) &&
        (pos + kw.length >= input.length ||
          !input.charAt(pos + kw.length).isLetterOrDigit)) {
        pos += kw.length; true
      } else false
    }

    private def readBareToken(): String = {
      val sb = new StringBuilder
      while (!eof && !peek.isWhitespace && !"():\"[]{}".contains(peek)) {
        sb.append(peek); pos += 1
      }
      sb.toString
    }

    private def readQuoted(): String = {
      require(peek == '"', "expected quote")
      pos += 1
      val sb = new StringBuilder
      while (!eof && peek != '"') { sb.append(peek); pos += 1 }
      require(!eof, s"unterminated phrase in: $input")
      pos += 1
      sb.toString
    }

    private def readRangeBound(): String = {
      skipWs()
      val sb = new StringBuilder
      while (!eof && !peek.isWhitespace && !"]}".contains(peek)) {
        sb.append(peek); pos += 1
      }
      sb.toString
    }

    def expectEnd(): Unit = {
      skipWs()
      require(eof, s"trailing input at $pos in: $input")
    }
  }
}
