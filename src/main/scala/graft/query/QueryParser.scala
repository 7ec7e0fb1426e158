package graft.query

import java.time.format.DateTimeFormatter
import java.time.{LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}

/** Hand-rolled recursive-descent parser for the Lucene classic query syntax
  * subset the reference serves (SURVEY.md §2.6): terms, `field:` scoping,
  * typed `field<type>:` points/ranges (reference TypedField.java:29-48,
  * CustomQueryParser.java:113-128), quoted phrases with `~slop`, boolean
  * `AND/OR/NOT/+/-` with Lucene's left-to-right clause-upgrade semantics,
  * `[a TO b]`/`{a TO b}` ranges, `prefix*`, `wild?card*`, `fuzzy~N`,
  * `boost^N`, and parenthesized groups.
  *
  * The parser produces raw (un-analyzed) terms; [[QueryFrontEnd.parse]] binds them to
  * the index (query-time analysis of TEXT fields, stop-word clause drops) —
  * mirroring how the reference parses with the view's analyzer
  * (DatabaseIndexer.java:120-126).
  */
final class QueryParser(
    defaultField: String = "default",
    defaultOperatorAnd: Boolean = false,
    allowLeadingWildcard: Boolean = false) {

  private var s: String = _
  private var i: Int = 0

  def parse(input: String): Query = {
    s = input; i = 0
    val q = parseBool(defaultField)
    skipWs()
    require(i >= s.length, s"unexpected trailing input at $i: '${s.substring(i)}'")
    q
  }

  // ---- lexing helpers -------------------------------------------------
  private def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
  private def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
  private def eof: Boolean = i >= s.length

  private def isTermChar(c: Char): Boolean =
    !c.isWhitespace && !"():\"[]{}^~\\".contains(c)

  import QueryParser.Word

  private def readWordE(): Word = {
    val sb = new StringBuilder
    val esc = Set.newBuilder[Int]
    var more = true
    while (more && i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        esc += sb.length
        sb.append(s.charAt(i + 1))
        i += 2
      } else if (isTermChar(c)) {
        sb.append(c)
        i += 1
      } else more = false
    }
    Word(sb.toString, esc.result())
  }

  private def readWord(): String = readWordE().text

  private def readNumber(): Double = {
    val start = i
    while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.' || s.charAt(i) == '-')) i += 1
    s.substring(start, i).toDouble
  }

  // ---- grammar --------------------------------------------------------
  /** Boolean clause sequence with Lucene QueryParser's conjunction handling:
    * `a AND b` makes both MUST; `AND` upgrades the previous SHOULD clause.
    */
  private def parseBool(field: String): Query = {
    val clauses = scala.collection.mutable.ArrayBuffer[Clause]()
    var done = false
    while (!done) {
      skipWs()
      if (eof || peek == ')') done = true
      else {
        // conjunction
        var conj = 0 // 0 none, 1 AND, 2 OR
        val save = i
        val w = readUpperWordAhead()
        if (w == "AND" || w == "&&") conj = 1
        else if (w == "OR" || w == "||") conj = 2
        else i = save
        skipWs()
        // modifiers
        var mod = 0 // 0 none, 1 plus, 2 minus
        val save2 = i
        val w2 = readUpperWordAhead()
        if (w2 == "NOT" || w2 == "!") mod = 2 else i = save2
        skipWs()
        if (peek == '+') { mod = 1; i += 1 }
        else if (peek == '-') { mod = 2; i += 1 }
        skipWs()
        if (eof || peek == ')') { done = true }
        else {
          val q = parseClause(field)
          if (conj == 1 && clauses.nonEmpty && clauses.last.occur == Occur.Should)
            clauses(clauses.length - 1) = clauses.last.copy(occur = Occur.Must)
          val occur =
            if (mod == 2) Occur.MustNot
            else if (mod == 1) Occur.Must
            else if (conj == 1) Occur.Must
            else if (conj == 2) Occur.Should
            else if (defaultOperatorAnd) Occur.Must
            else Occur.Should
          if (q != EmptyQ) clauses += Clause(occur, q)
        }
      }
    }
    if (clauses.isEmpty) EmptyQ
    else if (clauses.length == 1 && clauses.head.occur != Occur.MustNot) clauses.head.q
    else BoolQ(clauses.toSeq)
  }

  /** Reads a bare word if it looks like a conjunction/operator keyword. */
  private def readUpperWordAhead(): String = {
    val start = i
    while (i < s.length && (s.charAt(i).isLetter || s.charAt(i) == '&' || s.charAt(i) == '|' || s.charAt(i) == '!')) i += 1
    val w = s.substring(start, i)
    if (w == "AND" || w == "OR" || w == "NOT" || w == "&&" || w == "||" || w == "!") w
    else { i = start; "" }
  }

  private def parseClause(field: String): Query = withBoost {
    peek match {
      case '(' =>
        i += 1
        val q = parseBool(field)
        skipWs()
        require(peek == ')', s"expected ')' at $i")
        i += 1
        q
      case '"' => parsePhrase(field)
      case '[' | '{' => parseRange(field, None)
      case _ =>
        val wordE = readWordE()
        val word = wordE.text
        require(word.nonEmpty, s"empty term at $i in '$s'")
        // field prefix? `name:` or `name<type>:` — an escaped colon stays
        // inside the term (readWordE consumed it), so `url\:8080` is a term
        if (peek == ':') {
          i += 1
          skipWs()
          val (name, tpe) = splitTyped(wordE)
          peek match {
            case '(' =>
              i += 1
              val q = parseBool(name)
              skipWs(); require(peek == ')', s"expected ')' at $i"); i += 1
              q
            case '"' => parsePhrase(name)
            case '[' | '{' => parseRange(name, tpe)
            case _ =>
              val value = readWordE()
              require(!value.isEmpty, s"empty term after '$name:' at $i in '$s'")
              termLike(name, tpe, value)
          }
        } else termLike(field, None, wordE)
    }
  }

  private def withBoost(q: Query): Query = {
    if (peek == '^') { i += 1; BoostQ(q, readNumber()) } else q
  }

  /** Only an UNESCAPED `<type>` suffix is typed-field syntax — `foo\<int\>`
    * is the literal field name "foo<int>", not a typed query on "foo".
    */
  private def splitTyped(w: Word): (String, Option[String]) = {
    val word = w.text
    def unesc(ix: Int, c: Char) = word.charAt(ix) == c && !w.escaped(ix)
    val lt = word.indices.find(unesc(_, '<')).getOrElse(-1)
    if (lt > 0 && unesc(word.length - 1, '>'))
      (word.substring(0, lt), Some(word.substring(lt + 1, word.length - 1)))
    else (word, None)
  }

  private def parsePhrase(field: String): Query = {
    require(peek == '"'); i += 1
    val sb = new StringBuilder
    while (i < s.length && s.charAt(i) != '"') {
      // `\"` embeds a quote; any other `\x` resolves to x
      if (s.charAt(i) == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(s.charAt(i)); i += 1 }
    }
    require(i < s.length, "unterminated phrase")
    val text = sb.toString
    i += 1
    var slop = 0
    if (peek == '~') { i += 1; slop = readNumber().toInt }
    PhraseQ(field, text.split("\\s+").toSeq.filter(_.nonEmpty), slop)
  }

  private def parseRange(field: String, tpe: Option[String]): Query = {
    val incLo = peek == '['
    i += 1
    skipWs()
    val lo = readWord()
    skipWs()
    val to = readWord()
    require(to.equalsIgnoreCase("TO"), s"expected TO in range at $i")
    skipWs()
    val hi = readWord()
    skipWs()
    val incHi = peek == ']'
    require(peek == ']' || peek == '}', s"unterminated range at $i")
    i += 1
    def open(v: String): Option[String] = if (v == "*" || v.isEmpty) None else Some(v)
    tpe match {
      case Some(t) =>
        NumRangeQ(field, t, open(lo).map(parseTyped(t, _)), open(hi).map(parseTyped(t, _)), incLo, incHi)
      case None =>
        TermRangeQ(field, open(lo), open(hi), incLo, incHi)
    }
  }

  private def termLike(field: String, tpe: Option[String], w: Word): Query = {
    val raw = w.text
    // only UNESCAPED '*'/'?' are wildcard metacharacters — `sp\*` is the
    // literal term "sp*" (Lucene escape semantics)
    def isWild(ix: Int): Boolean =
      (raw.charAt(ix) == '*' || raw.charAt(ix) == '?') && !w.escaped(ix)
    val wildIdx = raw.indices.filter(isWild)
    tpe match {
      case Some(t) => NumTermQ(field, t, parseTyped(t, raw))
      case None =>
        // fuzzy suffix — Lucene FuzzyQuery.floatToEdits semantics (the
        // reference's parser is Lucene's classic QueryParser, which still
        // accepts the legacy similarity-float form): an integer is an edit
        // count, a fraction in (0,1) is a minimum similarity mapped to
        // ⌊(1−sim)·termLen⌋ edits, and everything caps at Lucene's
        // LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE = 2
        if (peek == '~') {
          i += 1
          val edits =
            if (!peek.isDigit) 2
            else {
              // FLOAT precision on purpose: Lucene parses the similarity
              // with Float.parseFloat, and floatToEdits computes
              // (int)((1D - minimumSimilarity) * termLen) — e.g. "x~0.8"
              // on a 5-char term is (1D-0.8f)*5 = 0.99999994 -> 0 edits
              val x = readNumber().toFloat
              if (x >= 1f) {
                // Lucene QueryParserBase.handleBareFuzzy rejects fractional
                // edit distances (e.g. ~1.5) with a ParseException
                require(x == x.toInt.toFloat,
                  s"fractional edit distances are not allowed: ~$x")
                math.min(x, 2f).toInt
              } else if (x == 0f) 0
              else math.min(((1d - x) * raw.codePointCount(0, raw.length)).toInt, 2)
            }
          FuzzyQ(field, raw, edits)
        } else if (wildIdx.nonEmpty) {
          require(allowLeadingWildcard || wildIdx.head != 0,
            "leading wildcard not allowed (lucene.allowLeadingWildcard=false)")
          if (wildIdx == Seq(raw.length - 1) && raw.endsWith("*"))
            PrefixQ(field, raw.dropRight(1))
          else {
            // re-insert `\` before ESCAPED '*'/'?' so the shared wildcard
            // compiler (QueryBind.wildcardRegex) keeps them literal — the
            // Word.escaped set doesn't survive past this boundary, and
            // `fi\?le*x` must not match "fiXle…" at position 2. A literal
            // backslash in the term must be re-escaped too: bare, it would
            // pair with the NEXT char in wildcardRegex (dropping itself and,
            // after `a\\\*b`, re-activating an escaped wildcard)
            val pat = raw.indices.map { ix =>
              val c = raw.charAt(ix)
              if ((c == '*' || c == '?') && w.escaped(ix)) s"\\$c"
              else if (c == '\\') "\\\\"
              else c.toString
            }.mkString
            WildcardQ(field, pat)
          }
        } else TermQ(field, raw)
    }
  }

  private def parseTyped(tpe: String, v: String): Double = tpe match {
    case "int" | "long" | "float" | "double" => v.toDouble
    case "date" => QueryParser.parseDateMillis(v).toDouble
    case other => throw new IllegalArgumentException(s"unknown field type <$other>")
  }
}

object QueryParser {
  /** A lexed word with `\`-escapes resolved; `escaped` marks the output
    * indices that came from an escape, so `\*`/`\?` are NOT wildcards
    * downstream (Lucene classic syntax: `\` escapes ANY character,
    * reference CustomQueryParserTest.java:96-100 — `foo\ bar:baz` is a
    * term query on the field "foo bar").
    */
  private[query] final case class Word(text: String, escaped: Set[Int]) {
    def isEmpty: Boolean = text.isEmpty
  }

  /** The reference's 6 accepted date patterns
    * (couchdb/FieldType.java:207-208,229-238), UTC when zoneless.
    */
  def parseDateMillis(v: String): Long = {
    val zoned = Seq("yyyy-MM-dd'T'HH:mm:ss.SSSZ", "yyyy-MM-dd'T'HH:mm:ssZ")
    val local = Seq("yyyy-MM-dd'T'HH:mm:ss.SSS", "yyyy-MM-dd'T'HH:mm:ss")
    zoned.foreach { p =>
      try return OffsetDateTime.parse(v, DateTimeFormatter.ofPattern(p)).toInstant.toEpochMilli
      catch { case _: Exception => }
    }
    local.foreach { p =>
      try return LocalDateTime.parse(v, DateTimeFormatter.ofPattern(p)).toInstant(ZoneOffset.UTC).toEpochMilli
      catch { case _: Exception => }
    }
    // zoned date-only `yyyy-MM-ddZ` (e.g. 2022-02-01+0000) — the 6th
    // reference pattern: midnight at the given offset
    try {
      val ta = DateTimeFormatter.ofPattern("yyyy-MM-ddZ").parse(v)
      return LocalDate.from(ta).atStartOfDay.toInstant(ZoneOffset.from(ta)).toEpochMilli
    } catch { case _: Exception => }
    try return LocalDate.parse(v).atStartOfDay.toInstant(ZoneOffset.UTC).toEpochMilli
    catch { case _: Exception => }
    throw new IllegalArgumentException(s"unparseable date: $v")
  }

  /** Quote-aware comma split for multi-query `q=a,b` and `sort=` lists
    * (reference util/Utils.java:76-78).
    */
  def splitOnCommas(v: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inQ = false
    v.foreach {
      case '"' => inQ = !inQ; cur.append('"')
      case ',' if !inQ => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Sort spec: `/field<type>` asc (default), `\field` desc, `_score`,
    * `_doc` (reference CustomQueryParser.java:41-68).
    */
  def parseSort(v: String): Seq[SortField] = splitOnCommas(v).map { part =>
    val (asc, rest) =
      if (part.startsWith("\\")) (false, part.substring(1))
      else if (part.startsWith("/")) (true, part.substring(1))
      else (true, part)
    val lt = rest.indexOf('<')
    if (lt > 0 && rest.endsWith(">")) SortField(rest.substring(0, lt), Some(rest.substring(lt + 1, rest.length - 1)), asc)
    else SortField(rest, None, asc)
  }
}
