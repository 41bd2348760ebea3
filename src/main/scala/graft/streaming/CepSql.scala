package graft.streaming

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Reference-dialect SQL adapter (SURVEY §3.1 EP2): spark-cep queries carry
  * their window in a trailing `OVER (WINDOW 'w' SECONDS, SLIDE 's'
  * SECONDS)` clause on the stream table (recalled public syntax, SURVEY §0
  * [R]). Spark expresses the same thing as a `window(ts, ...)` grouping
  * key, so a migrating user's query strings need one mechanical rewrite —
  * this performs it, letting reference-dialect text run unchanged on graft:
  *
  *  - `OVER (WINDOW 'w' SECONDS, SLIDE 's' SECONDS)` → sliding window
  *  - `OVER (WINDOW 'w' SECONDS)` → tumbling window (window == slide)
  *  - `MATCH PATTERN (e1[{m,}] THEN e2 [THEN e3 …] [THEN NOT eN] WITHIN
  *    'n' <unit>) PARTITION BY k` → sequence / absence / N-step-chain /
  *    quantified-run CEP as plain Spark SQL (see [[translatePattern]])
  *
  * The clause is removed and `window(<tsCol>, ...)` is prepended to the
  * GROUP BY (created if absent). Semantics upgrade exactly as documented
  * in MIGRATION.md: the reference windows on arrival time; the rewritten
  * query windows on event time (`tsCol`), which is the deterministic,
  * replayable behavior — and identical in batch and streaming.
  *
  * The rewrite is SYNTAX-AWARE, not purely regex: clause positions are
  * validated against a single-pass lexical scan (string/identifier
  * literals, `--` and bracketed comments, paren depth), so a GROUP BY
  * inside a subquery or a keyword inside a string literal is never the
  * injection target, and a statement with more than one OVER-window
  * clause (or one nested in a subquery) is rejected loudly rather than
  * silently mis-rewritten.
  *
  * For zero-code-change migration the same translation is available as a
  * parser extension ([[CepSqlParser]], injected by
  * [[graft.plans.GraftExtensions]]): with
  * `spark.sql.extensions=graft.plans.GraftExtensions`, reference-dialect
  * text runs through plain `spark.sql(...)` directly.
  */
object CepSql {
  private val over = Pattern.compile(
    """OVER\s*\(\s*WINDOW\s*'(\d+)'\s*SECONDS?\s*(?:,\s*SLIDE\s*'(\d+)'\s*SECONDS?\s*)?\)""",
    Pattern.CASE_INSENSITIVE)
  private val matchPat = Pattern.compile("MATCH\\s+PATTERN",
    Pattern.CASE_INSENSITIVE)
  /** `QUALIFY <pred>` (r11) — the reference dialect's post-window filter
    * (also DuckDB/BigQuery/Snowflake surface, which is why the declared
    * key's oracle can submit ITS text near-verbatim). Spark has no
    * QUALIFY; the standard rewrite wraps the statement (minus
    * QUALIFY/ORDER BY/LIMIT) in a subquery and filters it:
    * `SELECT … QUALIFY p ORDER BY o` →
    * `SELECT * FROM (SELECT …) WHERE p ORDER BY o` — the subquery's
    * output columns are exactly the SELECT list, so aliases the
    * predicate names resolve naturally. Restricted, loudly: the
    * predicate must reference window results BY ALIAS (a bare
    * `fn() OVER (…)` inside QUALIFY would need select-list injection —
    * rejected with that pointer), one top-level QUALIFY per statement,
    * none inside subqueries, and no combination with the stream
    * `OVER (WINDOW …)` clause in the same statement. */
  private val qualifyKw = Pattern.compile("\\bQUALIFY\\b",
    Pattern.CASE_INSENSITIVE)
  /** `ASOF [LEFT] JOIN` (r11) — DuckDB/Snowflake's temporal-join
    * surface. There is NO sound text-to-text rewrite (a rank-1
    * formulation needs a unique left-row identity the rewriter cannot
    * assume), so [[translate]] rejects it loudly and [[sql]] dispatches
    * the statement to [[graft.operators.TemporalJoins]]'s zero-join
    * backward-carry operator — the skip-past precedent. Restricted,
    * loud grammar: two named tables (register views for anything
    * richer), one equality + one `l.ts >= r.ts` (or `>`) condition,
    * plain `alias.col [AS name]` select items, optional ORDER BY
    * [DESC] / LIMIT; the sides' non-key column sets must be disjoint
    * (pre-rename in the views). Equal-ts right rows tie-break to the
    * greatest id column (the session idCol when the right table has
    * it, else the right ts itself) — q_join_asof's pinned choice. */
  private val asofKw = Pattern.compile(
    "\\bASOF\\s+(?:LEFT\\s+)?JOIN\\b", Pattern.CASE_INSENSITIVE)
  private val asofStmt = Pattern.compile(
    "^\\s*SELECT\\s+(.+?)\\s+FROM\\s+([A-Za-z_][\\w.]*)\\s+" +
      "([A-Za-z_]\\w*)\\s+ASOF\\s+(LEFT\\s+)?JOIN\\s+" +
      "([A-Za-z_][\\w.]*)\\s+([A-Za-z_]\\w*)\\s+" +
      "ON\\s+([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)\\s*=\\s*" +
      "([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)\\s+" +
      "AND\\s+([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)\\s*(>=|>)\\s*" +
      "([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)" +
      "(?:\\s+ORDER\\s+BY\\s+([A-Za-z_][\\w, ]*?(?:\\s+DESC)?" +
      "(?:\\s*,\\s*[A-Za-z_]\\w*(?:\\s+DESC)?)*))?" +
      "(?:\\s+LIMIT\\s+(\\d+))?\\s*;?\\s*$",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val asofSelItem = Pattern.compile(
    "^([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)(?:\\s+AS\\s+([A-Za-z_]\\w*))?$",
    Pattern.CASE_INSENSITIVE)
  /** `SELECT * EXCLUDE (…) [REPLACE (…)]` (r12) — DuckDB/BigQuery's
    * star-modifier surface. Spark's parser has no star modifiers; the
    * rewrite is pure schema-aware star expansion, so it NEEDS a session
    * to resolve the base table (the injected [[CepSqlParser]] carries
    * one; the pure-text [[translate]] rejects with that pointer).
    * Grammar: one base table/view, bare column names in EXCLUDE,
    * `expr AS col` items in REPLACE (split on top-level commas, the
    * LAST top-level AS binds the target), arbitrary tail
    * (WHERE/GROUP/ORDER/LIMIT) passed through verbatim. Edges are loud
    * and spec-pinned: unknown/duplicate/all-columns EXCLUDE, REPLACE
    * of an excluded or unknown column, star modifiers in a subquery,
    * multi-statement or set-op text. */
  private val excludeKw = Pattern.compile(
    "\\*\\s*EXCLUDE\\s*\\(", Pattern.CASE_INSENSITIVE)
  private val excludeStmt = Pattern.compile(
    "^\\s*SELECT\\s+\\*\\s+EXCLUDE\\s*\\(([^)]+)\\)" +
      "(?:\\s+REPLACE\\s*\\((.+?)\\))?" +
      "\\s+FROM\\s+([A-Za-z_][\\w.]*)(.*?)\\s*;?\\s*$",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val replaceItem = Pattern.compile(
    "^(.+)\\s+AS\\s+([A-Za-z_]\\w*)$",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  /** `SELECT * RENAME (old AS new, …)` (r13) — the remaining star
    * modifier of the DuckDB/BigQuery family after EXCLUDE/REPLACE
    * (r12): keep every column, rename the named ones in place. Same
    * schema-aware expansion machinery and the same loud edges (unknown
    * or duplicate source column, target collision with a surviving
    * column, JOIN/comma/bare-alias tails, set-ops, multi-statement). */
  private val renameKw = Pattern.compile(
    "\\*\\s*RENAME\\s*\\(", Pattern.CASE_INSENSITIVE)
  private val renameStmt = Pattern.compile(
    "^\\s*SELECT\\s+\\*\\s+RENAME\\s*\\(([^)]+)\\)" +
      "\\s+FROM\\s+([A-Za-z_][\\w.]*)(.*?)\\s*;?\\s*$",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val renameItem = Pattern.compile(
    "^([A-Za-z_]\\w*)\\s+AS\\s+([A-Za-z_]\\w*)$",
    Pattern.CASE_INSENSITIVE)

  /** The only tails [[excludeRewrite]] may pass through verbatim: an
    * optional `AS alias`, then a WHERE/GROUP/HAVING/ORDER/LIMIT clause
    * chain or nothing. A JOIN, a comma FROM list or a bare alias means
    * the star spans MORE than the resolved base table — silently
    * expanding it over one table's columns would be wrong output, so
    * those reject loudly (ADVICE r12). */
  private val excludeTail = Pattern.compile(
    "^(\\s+AS\\s+[A-Za-z_]\\w*)?" +
      "(\\s+(WHERE|GROUP|HAVING|ORDER|LIMIT)\\b.*)?\\s*;?\\s*$",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  /** Statement-leading `PIVOT t ON col USING agg(expr) GROUP BY …`
    * (r12) — DuckDB's auto-pivot surface. Spark's PIVOT demands an
    * explicit `IN (…)` value list; the dispatch derives it from the
    * data (ONE distinct scan of the ON column, sorted, capped at 100 —
    * unbounded pivot width is a scale bug, not a feature), so the
    * rewrite is DATA-aware, not just schema-aware. Only the
    * statement-leading DuckDB form dispatches; Spark's own subquery
    * `FROM t PIVOT (…)` syntax passes through untouched. */
  private val pivotKw = Pattern.compile(
    "^\\s*PIVOT\\b", Pattern.CASE_INSENSITIVE)
  private val pivotStmt = Pattern.compile(
    "^\\s*PIVOT\\s+([A-Za-z_][\\w.]*)\\s+ON\\s+([A-Za-z_]\\w*)\\s+" +
      "USING\\s+([A-Za-z_]\\w*)\\s*\\((.+?)\\)\\s+" +
      "GROUP\\s+BY\\s+([A-Za-z_]\\w*(?:\\s*,\\s*[A-Za-z_]\\w*)*)" +
      "(?:\\s+ORDER\\s+BY\\s+([A-Za-z_][\\w, ]*?(?:\\s+DESC)?" +
      "(?:\\s*,\\s*[A-Za-z_]\\w*(?:\\s+DESC)?)*))?" +
      "(?:\\s+LIMIT\\s+(\\d+))?\\s*;?\\s*$",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  /** Statement-leading `UNPIVOT t ON cols INTO NAME n VALUE v` (r12) —
    * DuckDB's long-form melt. The ON spec is a bare column list or
    * `COLUMNS(* EXCLUDE (…))` (schema-aware expansion); rewrites to
    * Spark's `FROM t UNPIVOT (v FOR n IN (…))`, whose NULL-dropping
    * default matches DuckDB's. */
  private val unpivotKw = Pattern.compile(
    "^\\s*UNPIVOT\\b", Pattern.CASE_INSENSITIVE)
  private val unpivotStmt = Pattern.compile(
    "^\\s*UNPIVOT\\s+([A-Za-z_][\\w.]*)\\s+ON\\s+(.+?)\\s+" +
      "INTO\\s+NAME\\s+([A-Za-z_]\\w*)\\s+VALUE\\s+([A-Za-z_]\\w*)" +
      "(?:\\s+ORDER\\s+BY\\s+([A-Za-z_][\\w, ]*?(?:\\s+DESC)?" +
      "(?:\\s*,\\s*[A-Za-z_]\\w*(?:\\s+DESC)?)*))?" +
      "(?:\\s+LIMIT\\s+(\\d+))?\\s*;?\\s*$",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val unpivotExcl = Pattern.compile(
    "^COLUMNS\\s*\\(\\s*\\*\\s+EXCLUDE\\s*\\(([^)]+)\\)\\s*\\)$",
    Pattern.CASE_INSENSITIVE)
  /** Clauses that may legally FOLLOW the QUALIFY predicate (they stay on
    * the rewritten OUTER query). */
  private val qualTail = Pattern.compile(
    "\\bORDER\\s+BY\\b|\\bLIMIT\\b|;", Pattern.CASE_INSENSITIVE)
  /** `SELECT DISTINCT ON (keys) …` (r12) — DuckDB/Postgres' first-row-
    * per-group surface. Spark has no DISTINCT ON; the standard rewrite
    * is the rank-1 window: partition by the keys, order by the ORDER
    * BY's tail after them, keep rn = 1. Restricted, loudly: keys are
    * plain column names; a top-level ORDER BY is REQUIRED, must lead
    * with exactly the DISTINCT ON keys (DuckDB's own determinism
    * recipe), and must carry at least one tiebreak column after them
    * (otherwise the picked row is engine-dependent and the statement is
    * a bug in both dialects); one statement, no set operations, no
    * combination with QUALIFY. */
  private val distinctOnKw = Pattern.compile(
    "\\bDISTINCT\\s+ON\\b", Pattern.CASE_INSENSITIVE)
  private val distinctOnHead = Pattern.compile(
    "^\\s*SELECT\\s+DISTINCT\\s+ON\\s*\\(([^)]*)\\)\\s*",
    Pattern.CASE_INSENSITIVE)
  private val orderByKw = Pattern.compile("\\bORDER\\s+BY\\b",
    Pattern.CASE_INSENSITIVE)
  private val fromKw = Pattern.compile("\\bFROM\\b",
    Pattern.CASE_INSENSITIVE)
  private val limitKw = Pattern.compile("\\bLIMIT\\b",
    Pattern.CASE_INSENSITIVE)
  private val ident = Pattern.compile("^[A-Za-z_]\\w*$")
  private val overFnCall = Pattern.compile("\\bOVER\\s*\\(",
    Pattern.CASE_INSENSITIVE)
  /** The full MATCH PATTERN statement grammar (sequence CEP from SQL —
    * SURVEY EP1/EP3's pattern surface; r7 extends it toward
    * MATCH_RECOGNIZE-lite):
    *
    * {{{
    * SELECT * FROM <table>
    * MATCH PATTERN (<step1> THEN <step2> [THEN <step3> …] [THEN NOT <stepN>]
    *                WITHIN '<n>' SECONDS|MINUTES|HOURS)
    * PARTITION BY <key>
    * [AFTER MATCH SKIP TO NEXT ROW | AFTER MATCH SKIP PAST LAST ROW]
    * }}}
    *
    * where each `<step>` is `<ev>[|<ev>…][(col op num)][{m[,[n]]}]` — an
    * event name, an alternation of event names (`click|view` matches
    * either), an optional single numeric condition (DEFINE-lite, e.g.
    * `purchase(value > 100)` — the step's class is then "type AND
    * condition"), and an optional quantifier on ANY step: `{m,}` (a
    * maximal run of ≥ m consecutive events of the step's class), `{m,n}`
    * (a maximal run whose length lands in [m, n] — whole-run semantics: a
    * maximal run LONGER than n does not match, it is a different, bigger
    * run), or `{m}` (exactly m: shorthand for `{m,m}`). `{m,}?` (r8) is
    * the RELUCTANT form — regex lazy syntax: the step matches the FIRST
    * m events of any run of ≥ m, so the chain continues from the m-th
    * event rather than the run's maximal end (and a run whose first m
    * events fit the window matches even when its maximal end would
    * overflow it). Bounded lazy forms ({m,n}?/{m}?) are rejected — the
    * upper bound can never bind a match that is always exactly m long.
    * Chains of any length ≥ 2;
    * `NOT` is legal on the FINAL step only (absence of a completion after
    * a matched prefix) and cannot itself be quantified. The default match
    * mode is AFTER MATCH SKIP TO NEXT ROW (every event may anchor a
    * match); SKIP PAST LAST ROW keeps matches non-overlapping (the next
    * match may only begin strictly after the last row of the previous
    * one) and is defined for plain sequence chains — no NOT, no
    * quantifiers. Anchored end-to-end: the pattern statement IS the whole
    * statement (projection/extra predicates belong in a view over the
    * result). */
  private val evAlt = "'?\\w+'?(?:\\s*\\|\\s*'?\\w+'?)*"
  // optional step condition `(col op number)` — MATCH_RECOGNIZE
  // DEFINE-lite, deliberately restricted to one numeric comparison so
  // the rewrite embeds it without a SQL-expression parser (injection-safe
  // by construction)
  private val cond = "(?:\\(\\s*[A-Za-z_]\\w*\\s*(?:<=|>=|!=|=|<|>)\\s*" +
    "-?\\d+(?:\\.\\d+)?\\s*\\))?"
  private val stepPat = s"$evAlt$cond(?:\\{\\d+(?:,\\d*)?\\})?\\??"
  private val patternStmt = Pattern.compile(
    "^\\s*SELECT\\s+\\*\\s+FROM\\s+([A-Za-z_][\\w.]*)\\s+" +
      "MATCH\\s+PATTERN\\s*\\(\\s*" +
      s"($stepPat(?:\\s+THEN\\s+(?:NOT\\s+)?$stepPat)+)" +
      "\\s+WITHIN\\s+'(\\d+)'\\s+(SECONDS?|MINUTES?|HOURS?)\\s*\\)" +
      "\\s+PARTITION\\s+BY\\s+([A-Za-z_]\\w*)" +
      "(?:\\s+AFTER\\s+MATCH\\s+SKIP\\s+(TO\\s+NEXT\\s+ROW|PAST\\s+LAST\\s+ROW))?" +
      // MEASURES (r7, list since r8): comma-separated measures, each
      // parsed by measureTok below — captured raw here
      "(?:\\s+MEASURES\\s+([^;]+?))?" +
      "\\s*;?\\s*$",
    Pattern.CASE_INSENSITIVE)
  /** One measure: `FN(col|*)`, `event.col`, or `MATCH_NUMBER()`, each
    * with an optional `AS alias` ([[Measure]]). */
  private val measureTok = Pattern.compile(
    "(?i)^(?:(SUM|AVG|MIN|MAX|COUNT)\\s*\\(\\s*(\\*|[A-Za-z_]\\w*)\\s*\\)" +
      "|([A-Za-z_]\\w*)\\s*\\.\\s*([A-Za-z_]\\w*)" +
      "|(MATCH_NUMBER)\\s*\\(\\s*\\)" +
      // FIRST/LAST(ev.col) — run boundary-row references (r8)
      "|(FIRST|LAST)\\s*\\(\\s*([A-Za-z_]\\w*)\\s*\\.\\s*" +
      "([A-Za-z_]\\w*)\\s*\\))" +
      "(?:\\s+AS\\s+([A-Za-z_]\\w*))?\\s*$")
  /** `PERMUTE(a, b)` (r7) / `PERMUTE(a, b, c)` (r9): the order-free
    * pair/triple — the steps in whichever order the stream presents.
    * Plain event names only (no alternation/condition/quantifier — each
    * would be well-defined but explodes the surface; extend on
    * demand). */
  private val permuteStmt = Pattern.compile(
    "^\\s*SELECT\\s+\\*\\s+FROM\\s+([A-Za-z_][\\w.]*)\\s+" +
      "MATCH\\s+PATTERN\\s*\\(\\s*PERMUTE\\s*\\(\\s*('?\\w+'?)\\s*,\\s*" +
      "('?\\w+'?)\\s*(?:,\\s*('?\\w+'?)\\s*)?\\)" +
      "\\s+WITHIN\\s+'(\\d+)'\\s+(SECONDS?|MINUTES?|HOURS?)\\s*\\)" +
      "\\s+PARTITION\\s+BY\\s+([A-Za-z_]\\w*)\\s*;?\\s*$",
    Pattern.CASE_INSENSITIVE)
  private val thenSplit = Pattern.compile("\\s+THEN\\s+",
    Pattern.CASE_INSENSITIVE)
  private val stepTok = Pattern.compile(
    "(?i)^(NOT\\s+)?('?\\w+'?(?:\\s*\\|\\s*'?\\w+'?)*)" +
      "(?:\\(\\s*([A-Za-z_]\\w*)\\s*(<=|>=|!=|=|<|>)\\s*" +
      "(-?\\d+(?:\\.\\d+)?)\\s*\\))?(?:\\{(\\d+)(?:(,)(\\d*))?\\})?(\\?)?$")
  private val altSplit = Pattern.compile("\\s*\\|\\s*")
  private val groupBy = Pattern.compile("GROUP\\s+BY", Pattern.CASE_INSENSITIVE)
  private val tail = Pattern.compile(
    "\\b(HAVING|ORDER\\s+BY|LIMIT)\\b|;", Pattern.CASE_INSENSITIVE)
  private val setOp = Pattern.compile(
    "\\b(UNION|INTERSECT|EXCEPT)\\b", Pattern.CASE_INSENSITIVE)

  /** Per-character lexical state from one left-to-right scan:
    * `lit(i)` — position i is inside a quoted literal ('…', "…", `…`) or
    * a comment; `depth(i)` — parenthesis nesting depth at position i
    * (0 = top level of the statement). */
  private def scan(q: String): (Array[Boolean], Array[Int]) = {
    val n = q.length
    val lit = new Array[Boolean](n)
    val depth = new Array[Int](n)
    var i = 0; var d = 0
    var quote: Char = 0     // active quote char, 0 if none
    var lineC = false        // in -- comment
    var blockC = false       // in /* */ comment
    while (i < n) {
      val c = q.charAt(i)
      lit(i) = quote != 0 || lineC || blockC
      depth(i) = d
      if (lineC) { if (c == '\n') lineC = false }
      else if (blockC) {
        if (c == '*' && i + 1 < n && q.charAt(i + 1) == '/') {
          lit(i + 1) = true; depth(i + 1) = d; i += 1; blockC = false
        }
      } else if (quote != 0) {
        if (c == '\\' && quote != '`' && i + 1 < n) {
          lit(i + 1) = true; depth(i + 1) = d; i += 1 // backslash escape
        } else if (c == quote) {
          if (i + 1 < n && q.charAt(i + 1) == quote) {
            lit(i + 1) = true; depth(i + 1) = d; i += 1 // doubled quote
          } else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`' => quote = c; lit(i) = true
        case '-' if i + 1 < n && q.charAt(i + 1) == '-' => lineC = true; lit(i) = true
        case '/' if i + 1 < n && q.charAt(i + 1) == '*' => blockC = true; lit(i) = true
        case '(' => d += 1; depth(i) = d // '(' itself counts as inside
        case ')' => d -= 1
        case _ => ()
      }
      i += 1
    }
    (lit, depth)
  }

  /** Rewrite one reference-dialect statement to Spark SQL. Statements
    * without an OVER-window clause pass through unchanged (the relational
    * dialect is already Spark-compatible). Throws `IllegalArgumentException`
    * on ambiguous input: multiple OVER-window clauses, or one inside a
    * subquery (the reference dialect allows exactly one, on the top-level
    * stream scan). */
  def translate(q: String, tsCol: String = "ts",
      typeCol: String = "event_type", idCol: String = "event_id"): String = {
    // fast path: the injected parser routes EVERY statement through here,
    // so don't build the scan arrays unless a clause can possibly match
    val mayOver = over.matcher(q).find()
    val mayPat = matchPat.matcher(q).find()
    val mayQual = qualifyKw.matcher(q).find()
    val mayAsof = asofKw.matcher(q).find()
    val mayDon = distinctOnKw.matcher(q).find()
    val mayEx = excludeKw.matcher(q).find() &&
      !unpivotKw.matcher(q).find() && !pivotKw.matcher(q).find()
    val mayRen = renameKw.matcher(q).find()
    if (!mayOver && !mayPat && !mayQual && !mayAsof && !mayDon &&
        !mayEx && !mayRen)
      return q
    val (lit, depth) = scan(q)
    if (mayEx) {
      val em = excludeKw.matcher(q)
      while (em.find())
        if (!lit(em.start()))
          throw new IllegalArgumentException(
            "SELECT * EXCLUDE needs the base table's schema to expand " +
              "the star — no text-to-text rewrite exists; submit " +
              "through CepSql.sql(spark, …) or the installed " +
              "CepSqlParser (both resolve the schema)")
    }
    if (mayRen) {
      val rm = renameKw.matcher(q)
      while (rm.find())
        if (!lit(rm.start()))
          throw new IllegalArgumentException(
            "SELECT * RENAME needs the base table's schema to expand " +
              "the star — no text-to-text rewrite exists; submit " +
              "through CepSql.sql(spark, …) or the installed " +
              "CepSqlParser (both resolve the schema)")
    }
    if (mayAsof) {
      val am = asofKw.matcher(q)
      while (am.find())
        if (!lit(am.start()))
          throw new IllegalArgumentException(
            "ASOF JOIN has no text-to-text rewrite (a rank-1 " +
              "formulation needs a left-row identity) — run the " +
              "statement through CepSql.sql, which dispatches it to " +
              "the TemporalJoins carry operator")
    }
    if (mayPat) {
      // a MATCH PATTERN inside a string literal is data, not a clause
      val mp = matchPat.matcher(q)
      var real = false
      while (mp.find() && !real) if (!lit(mp.start())) real = true
      if (real) return translatePattern(q, tsCol, typeCol, idCol)
    }
    if (mayDon) {
      val dm = distinctOnKw.matcher(q)
      var realAt = -1
      while (dm.find() && realAt < 0) if (!lit(dm.start())) realAt = dm.start()
      if (realAt >= 0) {
        if (depth(realAt) != 0)
          throw new IllegalArgumentException(
            "DISTINCT ON inside a subquery is not supported — rewrite " +
              "the subquery with a windowed rank-1 or lift it out")
        def realKw(p: Pattern): Boolean = {
          val km = p.matcher(q)
          while (km.find()) if (!lit(km.start())) return true
          false
        }
        if ((mayQual && realKw(qualifyKw)) || (mayOver && realKw(over)))
          throw new IllegalArgumentException(
            "DISTINCT ON does not combine with QUALIFY or OVER " +
              "(WINDOW …) in one statement — nest one side in a view")
        var si = 0
        while (si < q.length) {
          if (q.charAt(si) == ';' && !lit(si) && depth(si) == 0 &&
              (si + 1 until q.length).exists(j =>
                !lit(j) && !q.charAt(j).isWhitespace))
            throw new IllegalArgumentException(
              "DISTINCT ON in multi-statement text is ambiguous — " +
                "submit the statement on its own")
          si += 1
        }
        val so = setOp.matcher(q)
        while (so.find())
          if (!lit(so.start()) && depth(so.start()) == 0)
            throw new IllegalArgumentException(
              "DISTINCT ON in a UNION/INTERSECT/EXCEPT statement is " +
                "ambiguous — apply it to a branch inside a subquery")
        return translateDistinctOn(q, lit, depth)
      }
    }
    if (mayQual) {
      val qm = qualifyKw.matcher(q)
      var qfound: Option[(Int, Int)] = None
      while (qm.find()) if (!lit(qm.start())) {
        if (depth(qm.start()) != 0)
          throw new IllegalArgumentException(
            "QUALIFY inside a subquery is not supported — qualify the " +
              "outer query, or filter the subquery with WHERE on a " +
              "wrapped select")
        if (qfound.isDefined)
          throw new IllegalArgumentException(
            "multiple QUALIFY clauses in one statement — one per " +
              "statement, on the outer query")
        qfound = Some((qm.start(), qm.end()))
      }
      qfound match {
        case None => () // all occurrences were literal data
        case Some((a, b)) =>
          if (mayOver) {
            val om = over.matcher(q)
            var realOver = false
            while (om.find() && !realOver) if (!lit(om.start())) realOver = true
            if (realOver) throw new IllegalArgumentException(
              "QUALIFY cannot combine with OVER (WINDOW …) in one " +
                "statement — window in a subquery and QUALIFY the outer " +
                "select")
          }
          // multi-statement text: the same ambiguity discipline as the
          // OVER rewrite — which ';'-separated statement owns the clause?
          var si = 0
          while (si < q.length) {
            if (q.charAt(si) == ';' && !lit(si) && depth(si) == 0 &&
                (si + 1 until q.length).exists(j =>
                  !lit(j) && !q.charAt(j).isWhitespace))
              throw new IllegalArgumentException(
                "QUALIFY in multi-statement text is ambiguous — submit " +
                  "the qualified statement on its own")
            si += 1
          }
          // a top-level set operation leaves the wrapped-subquery extent
          // ambiguous (which branch does QUALIFY close over?)
          val so = setOp.matcher(q)
          while (so.find())
            if (!lit(so.start()) && depth(so.start()) == 0)
              throw new IllegalArgumentException(
                "QUALIFY in a UNION/INTERSECT/EXCEPT statement is " +
                  "ambiguous — qualify the branch inside a subquery")
          // predicate runs to the first top-level ORDER BY/LIMIT/';'
          // (those clauses stay on the rewritten outer query)
          val tm = qualTail.matcher(q)
          var tAt = q.length
          var searching = true
          while (searching && tm.find())
            if (tm.start() >= b && !lit(tm.start()) && depth(tm.start()) == 0) {
              tAt = tm.start(); searching = false
            }
          val pred = q.substring(b, tAt).trim
          if (pred.isEmpty)
            throw new IllegalArgumentException("QUALIFY with no predicate")
          // a bare window-function call in the predicate would need
          // select-list injection — require the alias form instead
          val (plit, _) = scan(pred)
          val ov = overFnCall.matcher(pred)
          while (ov.find())
            if (!plit(ov.start()))
              throw new IllegalArgumentException(
                "window functions inside QUALIFY must be aliased in the " +
                  "SELECT list and referenced by alias (QUALIFY rn <= 3)")
          return s"SELECT * FROM ( ${q.substring(0, a).trim} ) " +
            s"graft_qualify WHERE $pred ${q.substring(tAt)}".stripTrailing()
      }
    }
    if (!mayOver) return q
    val m = over.matcher(q)
    var found: Option[(Int, Int, String, String)] = None
    while (m.find()) {
      if (!lit(m.start())) { // a match inside a string literal is data
        if (found.isDefined)
          throw new IllegalArgumentException(
            "multiple OVER (WINDOW …) clauses in one statement — the " +
              "stream dialect allows exactly one, on the outer query")
        if (depth(m.start()) != 0)
          throw new IllegalArgumentException(
            "OVER (WINDOW …) inside a subquery is not supported — window " +
              "the outer query, or use window()/DataFrame API directly")
        val w = s"${m.group(1)} seconds"
        val sl = Option(m.group(2)).map(x => s"$x seconds").getOrElse(w)
        found = Some((m.start(), m.end(), w, sl))
      }
    }
    found match {
      case None => q
      case Some((a, b, w, sl)) =>
        val winExpr = s"window($tsCol, '$w', '$sl')"
        val stripped = q.substring(0, a) + q.substring(b)
        val (slit, sdepth) = scan(stripped)
        def firstTopLevel(p: Pattern): Option[java.util.regex.Matcher] = {
          val mm = p.matcher(stripped)
          while (mm.find())
            if (!slit(mm.start()) && sdepth(mm.start()) == 0) return Some(mm)
          None
        }
        // multi-statement text makes the injection target ambiguous the
        // same way: the first top-level GROUP BY (or HAVING/ORDER BY/LIMIT
        // anchor) found in the WHOLE text may belong to a different
        // ';'-separated statement than the one carrying the OVER clause,
        // silently windowing the wrong statement — reject loudly. A
        // trailing ';' (nothing but whitespace after it) stays legal.
        var si = 0
        while (si < stripped.length) {
          // "content" = non-whitespace OUTSIDE literals/comments: a
          // trailing "; -- note" is still a single statement
          if (stripped.charAt(si) == ';' && !slit(si) && sdepth(si) == 0 &&
              (si + 1 until stripped.length).exists(j =>
                !slit(j) && !stripped.charAt(j).isWhitespace))
            throw new IllegalArgumentException(
              "OVER (WINDOW …) in multi-statement text is ambiguous — " +
                "submit the windowed statement on its own")
          si += 1
        }
        // a top-level set operation makes the injection target ambiguous
        // (the first top-level GROUP BY may belong to a DIFFERENT branch
        // than the one carrying the OVER clause) — reject loudly
        if (firstTopLevel(setOp).isDefined)
          throw new IllegalArgumentException(
            "OVER (WINDOW …) in a UNION/INTERSECT/EXCEPT statement is " +
              "ambiguous — window the branch inside a subquery instead")
        firstTopLevel(groupBy) match {
          case Some(gm) =>
            // prepend the window key to the existing top-level GROUP BY
            stripped.substring(0, gm.end()) + s" $winExpr," +
              stripped.substring(gm.end())
          case None =>
            // no GROUP BY: insert one before HAVING/ORDER BY/LIMIT (or at end)
            val at = firstTopLevel(tail).map(_.start()).getOrElse(stripped.length)
            stripped.substring(0, at).stripTrailing() +
              s" GROUP BY $winExpr " + stripped.substring(at)
        }
    }
  }

  /** The DISTINCT ON rewrite body (guards already passed in
    * [[translate]]): `SELECT DISTINCT ON (k…) sel FROM f ORDER BY k…,
    * tiebreak… [LIMIT n]` → rank-1 window (`row_number() OVER
    * (PARTITION BY k… ORDER BY tiebreak…) = 1`), keeping the original
    * ORDER BY/LIMIT tail on the outer query verbatim. */
  private def translateDistinctOn(q: String, lit: Array[Boolean],
      depth: Array[Int]): String = {
    def bad(msg: String) = throw new IllegalArgumentException(
      s"DISTINCT ON: $msg")
    val hm = distinctOnHead.matcher(q)
    if (!hm.lookingAt())
      bad("the dialect accepts exactly `SELECT DISTINCT ON (col, …) " +
        "<select list> FROM … ORDER BY <the keys>, <tiebreak…> " +
        "[LIMIT n]`")
    val keys = hm.group(1).split(",").map(_.trim)
    if (keys.isEmpty || keys.exists(k => !ident.matcher(k).matches()))
      bad("keys must be plain column names")
    def firstTopLevel(p: Pattern, from: Int): Int = {
      val m = p.matcher(q)
      var at = from
      while (m.find(at)) {
        if (!lit(m.start()) && depth(m.start()) == 0) return m.start()
        at = m.start() + 1
      }
      -1
    }
    val fromAt = firstTopLevel(fromKw, hm.end())
    if (fromAt < 0) bad("no top-level FROM")
    val obAt = firstTopLevel(orderByKw, fromAt)
    if (obAt < 0)
      bad("a top-level ORDER BY is REQUIRED — without it the picked " +
        "row per key is engine-dependent")
    val selectList = q.substring(hm.end(), fromAt).trim
    if (selectList.isEmpty) bad("empty select list")
    val obm = orderByKw.matcher(q); obm.find(obAt)
    val fm = fromKw.matcher(q); fm.find(fromAt)
    val fromPart = q.substring(fm.end(), obAt).trim
    if (fromPart.isEmpty) bad("empty FROM clause")
    val limAt = firstTopLevel(limitKw, obm.end())
    val scAt = {
      var i = obm.end(); var found = -1
      while (i < q.length && found < 0) {
        if (q.charAt(i) == ';' && !lit(i) && depth(i) == 0) found = i
        i += 1
      }
      found
    }
    val obEnd = Seq(limAt, scAt, q.length).filter(_ >= 0).min
    // split the ORDER BY list on TOP-LEVEL commas (of the substring)
    val obTxt = q.substring(obm.end(), obEnd)
    val (oblit, obdepth) = scan(obTxt)
    val cuts = obTxt.indices.filter(i =>
      obTxt.charAt(i) == ',' && !oblit(i) && obdepth(i) == 0)
    val entries = ((-1 +: cuts) :+ obTxt.length).sliding(2).map {
      case Seq(a, b) => obTxt.substring(a + 1, b).trim
    }.toSeq.filter(_.nonEmpty)
    if (entries.length <= keys.length)
      bad("ORDER BY must carry at least one tiebreak column AFTER the " +
        "keys — `ORDER BY <keys…>, <tiebreak…>` — or the picked row " +
        "per key is engine-dependent in every dialect")
    val dirSuffix = "(?i)\\s+(ASC|DESC)(\\s+NULLS\\s+(FIRST|LAST))?$"
    entries.take(keys.length).zip(keys).foreach { case (e, k) =>
      val bare = e.replaceAll(dirSuffix, "").trim
      if (!bare.equalsIgnoreCase(k))
        bad(s"ORDER BY must lead with the DISTINCT ON keys in order — " +
          s"expected '$k', found '$e' (DuckDB's own determinism recipe)")
    }
    val winOrder = entries.drop(keys.length).mkString(", ")
    val outSel =
      if (selectList == "*") "* EXCEPT (__graft_don)" else selectList
    s"SELECT $outSel FROM ( SELECT *, row_number() OVER (PARTITION BY " +
      s"${keys.mkString(", ")} ORDER BY $winOrder) AS __graft_don " +
      s"FROM $fromPart ) graft_don WHERE __graft_don = 1 " +
      q.substring(obAt).stripTrailing()
  }

  /** One parsed step condition: `(col op number)` — e.g.
    * `purchase(value > 100)`. */
  case class StepCond(col: String, op: String, num: String)

  /** One parsed pattern step: `NOT`?, event-name alternation (size 1 for
    * a plain event), condition?, quantifier? (`{m,}` → minTimes=m,
    * maxTimes=None; `{m,n}` → both; `{m}` → minTimes=maxTimes=m),
    * `?` optional marker (r7 — the step may be absent from a match).
    * `{m,}?` (r8) is the RELUCTANT quantifier — regex lazy syntax: the
    * step matches the FIRST m events of a qualifying run rather than
    * the whole maximal run (reluctant=true, never also optional). */
  case class PatternStep(negated: Boolean, events: Seq[String],
      minTimes: Option[Int], cond: Option[StepCond] = None,
      maxTimes: Option[Int] = None, optional: Boolean = false,
      reluctant: Boolean = false) {
    /** The single event name of an unalternated step (the common case —
      * streaming detectors and the legacy rewrite paths use it). */
    def event: String = events.head
  }

  /** A fully parsed-and-validated MATCH PATTERN statement — the shared
    * front half of [[translatePattern]] (batch SQL rewrite) and
    * [[ContinuousQueries.submitPattern]] (streaming detector dispatch). */
  /** MEASURES (r7 single-aggregate, generalized r8 to a list): each
    * measure is one of
    *
    *  - [[SpanAgg]] `FN(col|*)` — one aggregate over the matched SPAN:
    *    every event of the key whose (ts, id) lies lexicographically
    *    between the match's first and last matched rows, inclusive,
    *    regardless of type (`*` for COUNT only) — the r7 semantics;
    *  - [[ClassRef]] `event.col` — the matched row's column for the
    *    (unique) step whose class contains `event`. A plain chain maps
    *    exactly one row per step, so this is MATCH_RECOGNIZE's
    *    per-variable reference in its rank-1 flavor (`FIRST`/`LAST`
    *    collapse to the same row and are deliberately not spelled);
    *  - [[MatchNum]] `MATCH_NUMBER()` — the 1-based ordinal of the
    *    match within its partition, in (ts_1, id_1) order.
    *
    * `alias` names the output column: explicit `AS a`, else `measure`
    * for the single-measure r7 back-compat form, else `m1`, `m2`, …
    * Aliases must be unique and must not collide with the chain's own
    * output columns. */
  sealed trait Measure { def alias: String }
  case class SpanAgg(fn: String, col: String, alias: String) extends Measure
  /** `step` is 1-based (the chain's id_i/ts_i numbering), resolved at
    * parse time from the event name. */
  case class ClassRef(ev: String, col: String, step: Int, alias: String)
      extends Measure
  case class MatchNum(alias: String) extends Measure
  /** `FIRST(ev.col)` / `LAST(ev.col)` on a QUANTIFIED step (r8): the
    * run's boundary ROW — its first / last event in (ts, id) order.
    * MATCH_RECOGNIZE's FIRST/LAST navigation in its run flavor. On an
    * unquantified step the boundary is the single matched row, which
    * `ev.col` already names — rejected with that pointer. */
  case class BoundRef(fn: String, ev: String, col: String, step: Int,
      alias: String) extends Measure

  case class PatternSpec(table: String, steps: Seq[PatternStep],
      n: Long, unit: String, key: String, skipPast: Boolean = false,
      permute: Boolean = false, measures: Seq[Measure] = Nil) {
    def absent: Boolean = steps.last.negated
    /** Window in milliseconds. Overflow-checked: a huge-but-valid WITHIN
      * numeral must fail loudly like every other parse near-miss, not
      * silently wrap to a negative window that matches nothing
      * ([[parsePattern]] pre-validates, so callers never see the throw). */
    def withinMs: Long = {
      val factor = unit match {
        case "SECONDS" => 1000L
        case "MINUTES" => 60L * 1000L
        case _         => 3600L * 1000L
      }
      Math.multiplyExact(n, factor)
    }
  }

  /** Parse + validate one MATCH PATTERN statement (loud on every
    * near-miss — see [[patternStmt]] for the grammar). */
  def parsePattern(q: String): PatternSpec = {
    def malformed(detail: String): Nothing =
      throw new IllegalArgumentException(
        "malformed MATCH PATTERN statement — expected exactly: SELECT * " +
          "FROM <table> MATCH PATTERN (<step1> THEN <step2> [THEN <step3> " +
          "…] [THEN NOT <stepN>] WITHIN '<n>' SECONDS|MINUTES|HOURS) " +
          "PARTITION BY <key> [AFTER MATCH SKIP TO NEXT ROW|PAST LAST " +
          s"ROW] — or MATCH PATTERN (PERMUTE(<ev>, <ev>) WITHIN …) — " +
          s"each step <ev>[|<ev>…][{m[,[n]]}] ($detail)")
    val pm = permuteStmt.matcher(q)
    if (pm.matches()) {
      val evs = (Seq(pm.group(2), pm.group(3)) ++
        Option(pm.group(4)).toSeq)
        .map(_.stripPrefix("'").stripSuffix("'"))
      if (evs.distinct.length != evs.length)
        malformed("PERMUTE needs distinct event names")
      val unit = pm.group(6).toUpperCase(java.util.Locale.ROOT) match {
        case u if u.startsWith("SEC") => "SECONDS"
        case u if u.startsWith("MIN") => "MINUTES"
        case _                        => "HOURS"
      }
      val n =
        try pm.group(5).toLong
        catch { case _: NumberFormatException =>
          malformed(s"WITHIN numeral '${pm.group(5)}' out of range") }
      val spec = PatternSpec(pm.group(1),
        evs.map(e => PatternStep(negated = false, Seq(e), None)),
        n, unit, pm.group(7), permute = true)
      try spec.withinMs
      catch { case _: ArithmeticException =>
        malformed(s"WITHIN window '${spec.n} ${spec.unit}' overflows") }
      return spec
    }
    val m = patternStmt.matcher(q)
    if (!m.matches()) malformed("statement shape")
    val steps = thenSplit.split(m.group(2).trim).toSeq.map { tok =>
      val sm = stepTok.matcher(tok.trim)
      if (!sm.matches()) malformed(s"bad step token '$tok'")
      val evs = altSplit.split(sm.group(2)).toSeq
        .map(_.stripPrefix("'").stripSuffix("'")).distinct
      val c = Option(sm.group(3)).map(col =>
        StepCond(col, sm.group(4), sm.group(5)))
      val mn = Option(sm.group(6)).map(_.toInt)
      // {m} = exactly m; {m,} = unbounded; {m,n} = bounded
      val mx = mn.flatMap { m =>
        if (sm.group(7) == null) Some(m)
        else if (sm.group(8).isEmpty) None
        else Some(sm.group(8).toInt)
      }
      val trailQ = sm.group(9) != null
      // `{m,}?` (r8) is regex RELUCTANT syntax, not an optional step:
      // the run truncates to its first m events. The bounded lazy forms
      // `{m,n}?` / `{m}?` are rejected rather than silently equated —
      // under relaxed-contiguity completion the upper bound never binds
      // a reluctant match (the lazy prefix is always exactly m long).
      val lazyQ = trailQ && mn.isDefined
      if (lazyQ && mx.isDefined)
        malformed("a bounded reluctant quantifier {m,n}?/{m}? is " +
          "redundant — the lazy match is always exactly m events; " +
          "write {m,}?")
      val opt = trailQ && mn.isEmpty
      PatternStep(sm.group(1) != null, evs, mn, c, mx, opt,
        reluctant = lazyQ)
    }
    if (steps.head.negated) malformed("NOT on the first step")
    if (steps.init.exists(_.negated))
      malformed("NOT is legal on the final step only")
    if (steps.last.negated && steps.last.minTimes.isDefined)
      malformed("a NOT step cannot take a {m,} quantifier")
    steps.flatMap(_.minTimes).foreach { mt =>
      if (mt < 1) malformed("quantifier minimum must be >= 1")
    }
    steps.foreach { st =>
      for (m <- st.minTimes; n <- st.maxTimes)
        if (n < m) malformed(s"quantifier {$m,$n} has max < min")
    }
    // optional steps (r7): mid-chain only, one at a time, plain chains.
    // The anchor (first step) and the pattern's end must be concrete so a
    // match is well-defined; the step after an optional one decides the
    // skip (regex-scan greedy semantics), so it must itself be concrete.
    if (steps.exists(_.optional)) {
      if (steps.head.optional)
        malformed("an optional step cannot open the pattern — the match " +
          "anchor must be concrete")
      if (steps.last.optional || (steps.last.negated &&
          steps.init.nonEmpty && steps.init.last.optional))
        malformed("an optional step must be followed by a concrete " +
          "(non-NOT) step")
      steps.sliding(2).foreach { pair =>
        if (pair.length == 2 && pair.head.optional && pair.last.optional)
          malformed("consecutive optional steps are not supported")
      }
      if (steps.exists(_.minTimes.isDefined))
        malformed("optional steps do not combine with quantifiers in one " +
          "pattern")
    }
    val unit = m.group(4).toUpperCase(java.util.Locale.ROOT) match {
      case u if u.startsWith("SEC") => "SECONDS"
      case u if u.startsWith("MIN") => "MINUTES"
      case _                        => "HOURS"
    }
    val n =
      try m.group(3).toLong
      catch { case _: NumberFormatException =>
        malformed(s"WITHIN numeral '${m.group(3)}' out of range") }
    val skipPast = Option(m.group(6))
      .exists(_.toUpperCase(java.util.Locale.ROOT).startsWith("PAST"))
    if (skipPast && steps.last.negated)
      malformed("AFTER MATCH SKIP PAST LAST ROW does not combine with " +
        "THEN NOT — an absence match consumes only its anchor row")
    if (skipPast && steps.exists(st => st.minTimes.isDefined || st.optional))
      malformed("AFTER MATCH SKIP PAST LAST ROW is defined for plain " +
        "sequence chains (no quantifiers, no optional steps)")
    val measures: Seq[Measure] = Option(m.group(7)).map { txt =>
      val parts = txt.split(",").map(_.trim).filter(_.nonEmpty)
      if (parts.isEmpty) malformed("empty MEASURES list")
      val single = parts.length == 1
      parts.toIndexedSeq.zipWithIndex.map { case (p, i) =>
        val mm = measureTok.matcher(p)
        if (!mm.matches()) malformed(s"unrecognized measure '$p' — " +
          "expected FN(col|*), event.col, FIRST/LAST(event.col), or " +
          "MATCH_NUMBER()")
        // r7 back-compat: a lone unaliased aggregate keeps the column
        // name `measure`; everything else defaults to m1, m2, …
        val alias = Option(mm.group(9)).getOrElse(
          if (single && mm.group(1) != null) "measure" else s"m${i + 1}")
        def resolveStep(ev: String): Int = {
          val hits = steps.zipWithIndex.filter { case (st, _) =>
            !st.negated && st.events.exists(_.equalsIgnoreCase(ev))
          }
          if (hits.isEmpty)
            malformed(s"measure '$p' references '$ev', which no step " +
              "matches")
          if (hits.length > 1)
            malformed(s"measure '$p' is ambiguous — '$ev' appears in " +
              s"${hits.length} steps")
          hits.head._2 + 1
        }
        if (mm.group(1) != null) {
          val fn = mm.group(1).toUpperCase(java.util.Locale.ROOT)
          if (mm.group(2) == "*" && fn != "COUNT")
            malformed(s"$fn(*) — only COUNT takes *")
          SpanAgg(fn, mm.group(2), alias)
        } else if (mm.group(3) != null) {
          val ev = mm.group(3)
          val step = resolveStep(ev)
          if (steps(step - 1).minTimes.isDefined)
            // a bare ref to a QUANTIFIED variable (r9): MATCH_RECOGNIZE
            // running semantics read the variable's LAST matched row —
            // desugared to the run-boundary ref, so `click.value` over
            // click{2,} is LAST(click.value), the run's final event
            // (its m-th for a reluctant run). FIRST is spelled
            // explicitly, exactly as in the standard.
            BoundRef("LAST", ev, mm.group(4), step, alias)
          else ClassRef(ev, mm.group(4), step, alias)
        } else if (mm.group(6) != null) {
          // FIRST/LAST(ev.col) (r8): run boundary-row reference
          val ev = mm.group(7)
          val step = resolveStep(ev)
          if (steps(step - 1).minTimes.isEmpty)
            malformed(s"FIRST/LAST reference a RUN — '$ev' is not " +
              s"quantified; '$ev.${mm.group(8)}' already names its " +
              "single matched row")
          BoundRef(mm.group(6).toUpperCase(java.util.Locale.ROOT), ev,
            mm.group(8), step, alias)
        } else MatchNum(alias)
      }
    }.getOrElse(Nil)
    if (measures.nonEmpty) {
      // r14: the trailing-NOT (absent) form composes with MEASURES —
      // the span covers the POSITIVE prefix (anchor .. last positive
      // step), exactly the columns the absent form emits. Mid-chain
      // NOT cannot parse (grammar), so steps.init.exists(negated) is
      // unreachable; optional steps and SKIP stay out.
      if (skipPast || steps.exists(_.optional) ||
          steps.init.exists(_.negated))
        malformed("MEASURES is defined for sequence chains — no " +
          "optional steps or SKIP PAST LAST ROW")
      measures.foreach {
        case ClassRef(ev, _, st, _) if st == steps.length &&
            steps.last.negated =>
          malformed(s"measure references '$ev' — the NOT step never " +
            "matches a row, so it has no values to reference")
        case BoundRef(_, ev, _, st, _) if st == steps.length &&
            steps.last.negated =>
          malformed(s"measure references '$ev' — the NOT step never " +
            "matches a row, so it has no values to reference")
        case _ => ()
      }
      // quantified steps compose with span aggregates / COUNT /
      // MATCH_NUMBER since r8 and bare class refs since r9 (desugared
      // to LAST run-boundary refs above — no ClassRef ever reaches the
      // rewrite with a quantified step)
      val aliases = measures.map(_.alias.toLowerCase(java.util.Locale.ROOT))
      if (aliases.distinct.length != aliases.length)
        malformed(s"duplicate measure aliases: ${aliases.mkString(", ")}")
      val reserved = ("""(?:id|ts|len)_\d+""").r
      aliases.foreach { a =>
        if (a == m.group(5).toLowerCase(java.util.Locale.ROOT) ||
            reserved.matches(a))
          malformed(s"measure alias '$a' collides with a chain output " +
            "column")
      }
    }
    val spec = PatternSpec(m.group(1), steps, n, unit, m.group(5), skipPast,
      measures = measures)
    try spec.withinMs
    catch { case _: ArithmeticException =>
      malformed(s"WITHIN window '${spec.n} ${spec.unit}' overflows") }
    spec
  }

  /** Rewrite one MATCH PATTERN statement (see [[patternStmt]]) to plain
    * Spark SQL — the SQL-string surface for sequence CEP, so a reference
    * user's continuous pattern text runs through `spark.sql` like the
    * OVER-window dialect does.
    *
    *  - `a THEN b WITHIN '<n>' <unit>`: for each `a` event, the FIRST `b`
    *    event of the same `key` with ts in (a.ts, a.ts + n unit] — AFTER
    *    MATCH SKIP TO NEXT ROW, exactly the q_cep_seq formulation (equi
    *    self-join on the key + range predicate + per-a-row top-1). Output:
    *    (key, sid, pid, s_ts, p_ts), ordered by sid.
    *  - `a THEN NOT b WITHIN …`: absence — `a` events with NO qualifying
    *    `b` (left-anti), the q_cep_absence formulation. Output:
    *    (sid, key, s_ts), ordered by sid.
    *  - `e1 THEN e2 THEN e3 [… THEN eN] WITHIN …` (r6): N-step chains.
    *    Greedy left-to-right: step i is the FIRST `e_i` event of the key
    *    strictly after the matched `e_{i-1}` and no later than the
    *    ANCHOR's ts + n unit (the whole chain fits in one window measured
    *    from step 1 — the standard CEP WITHIN). One match per anchor
    *    (skip-to-next-row), built as i-1 chained rank-1 joins. Output:
    *    (key, id_1…id_N, ts_1…ts_N), ordered by id_1. `THEN NOT eN` on
    *    the final step = matched N-1 prefix with NO completion (anti
    *    join); `NOT` anywhere else is rejected.
    *
    * Event names compare against `typeCol`; event ids come from `idCol`;
    * both default to the events-table conventions and are overridable via
    * `spark.graft.cep.typeColumn` / `spark.graft.cep.idColumn` on the
    * injected-parser path. Batch/interactive surface: the rewrite uses a
    * ranking window (sequence) / anti join (absence), which Structured
    * Streaming does not support incrementally — the streaming twin of
    * every unquantified form is [[ChainEngine]], reached from pattern text
    * through [[ContinuousQueries.submitPattern]].
    *
    * A statement that *mentions* MATCH PATTERN but does not match the
    * grammar end-to-end is rejected loudly — a silent pass-through would
    * surface as a confusing Spark parser error on CEP syntax. */
  private def translatePattern(q: String, tsCol: String, typeCol: String,
      idCol: String): String = {
    val spec = parsePattern(q)
    val tbl = spec.table
    val steps = spec.steps
    val absent = spec.absent
    val n = spec.n.toString
    val unit = spec.unit
    val key = spec.key
    def bq(c: String) = s"`$c`"
    val (k, t, ty, id) = (bq(key), bq(tsCol), bq(typeCol), bq(idCol))
    def inPred(alias: String, st: PatternStep): String =
      stepPredSql(alias, st, typeCol)
    if (spec.permute) return translatePermute(spec, tsCol, typeCol, idCol)
    if (spec.skipPast) return translateSkip(spec, tsCol, typeCol, idCol)
    if (steps.length > 2 || steps.tail.exists(_.minTimes.isDefined) ||
        spec.measures.nonEmpty)
      return translateChain(spec, tsCol, typeCol, idCol)
    if (steps.head.minTimes.isDefined) {
      // quantified run: the q_cep_times formulation — maximal runs of
      // consecutive evA per key (gaps-and-islands: difference of two
      // row_numbers), length >= mt, then the first evB strictly after the
      // run's END and within the window of it. Sequence output:
      // (key, run_len, run_start, run_end, b_ts); absence output drops
      // b_ts and keeps runs with NO qualifying completion.
      val mt = steps.head.minTimes.get
      val runs = runsSub(steps.head, mt, key, tsCol, typeCol, idCol,
        tbl, steps.head.maxTimes, steps.head.reluctant)
      val range = s"b.$t > r.run_end AND b.$t <= r.run_end + " +
        s"INTERVAL $n $unit"
      if (absent)
        s"""SELECT r.__k AS $k, r.run_len, r.run_start, r.run_end
           |FROM $runs r
           |LEFT ANTI JOIN (SELECT * FROM $tbl WHERE ${inPred("", steps.last)}) b
           |ON r.__k = b.$k AND $range
           |ORDER BY $k, run_start""".stripMargin
      else
        s"""SELECT r.__k AS $k, r.run_len, r.run_start, r.run_end,
           |  min(b.$t) AS b_ts
           |FROM $runs r
           |JOIN (SELECT * FROM $tbl WHERE ${inPred("", steps.last)}) b
           |ON r.__k = b.$k AND $range
           |GROUP BY r.__k, r.run_len, r.run_start, r.run_end
           |ORDER BY $k, run_start""".stripMargin
    } else {
      // 2-step keeps the original q_cep_seq / q_cep_absence output shape
      val range = s"b.$t > a.$t AND b.$t <= a.$t + INTERVAL $n $unit"
      if (absent)
        s"""SELECT a.$id AS sid, a.$k AS $k, a.$t AS s_ts
           |FROM (SELECT * FROM $tbl WHERE ${inPred("", steps.head)}) a
           |LEFT ANTI JOIN (SELECT * FROM $tbl WHERE ${inPred("", steps.last)}) b
           |ON a.$k = b.$k AND $range
           |ORDER BY sid""".stripMargin
      else
        s"""SELECT $k, sid, pid, s_ts, p_ts FROM (
           |  SELECT a.$k AS $k, a.$id AS sid, b.$id AS pid,
           |         a.$t AS s_ts, b.$t AS p_ts,
           |         row_number() OVER (PARTITION BY a.$id
           |                            ORDER BY b.$t, b.$id) AS __rn
           |  FROM $tbl a JOIN $tbl b
           |  ON a.$k = b.$k AND ${inPred("a", steps.head)}
           |     AND ${inPred("b", steps.last)} AND $range
           |) WHERE __rn = 1 ORDER BY sid""".stripMargin
    }
  }

  /** Gaps-and-islands runs subquery: maximal runs of ≥ `minLen`
    * CONSECUTIVE events of the step's class per key (a run is broken by
    * any event outside the class — consecutive rows in the key's (ts, id)
    * order). `maxLen` (r7, `{m,n}`/`{m}`) caps the accepted length with
    * whole-run semantics: a MAXIMAL run longer than the cap is simply not
    * a match — it never contributes a truncated sub-run. The class
    * indicator generalizes the original per-type formulation to
    * alternations: for a single event name, partitioning by the indicator
    * is exactly partitioning by the type over the surviving rows.
    * Selects (__k, run_len, run_start, run_end). */
  /** Set by [[sql]] around its translate call: when present, [[runsSub]]
    * returns a cached temp VIEW over its subquery instead of inline text,
    * so every reference in the emitted statement shares one computation
    * per epoch (released with Caching.releaseAll; the view then simply
    * recomputes on next use). The injected-parser path leaves this unset
    * — a parser must stay side-effect-free text→text. */
  private val matSession = new ThreadLocal[org.apache.spark.sql
    .SparkSession]()

  // r15 (ADVICE r14 #4): the materialized runs views used to accumulate
  // in the session catalog forever (releaseAll unpersisted the cache but
  // left the views registered). Track every created view per session and
  // drop them at the end of each releaseAll — a long-lived submitSql
  // host's catalog stays bounded, and re-registration on next use is
  // cheap (createOrReplaceTempView). Registered frames already survive
  // only until their next use, so dropping is always safe: an analyzed
  // statement no longer needs the catalog entry.
  private val createdViews = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.SparkSession, java.util.Set[String]]()
  locally {
    graft.Caching.onReleaseAll(() => {
      createdViews.forEach { (s, names) =>
        if (!s.sparkContext.isStopped)
          names.forEach(n =>
            try s.catalog.dropTempView(n)
            catch { case _: Throwable => () })
      }
      createdViews.clear()
    })
  }

  private def runsSub(st: PatternStep, minLen: Int, key: String,
      tsCol: String, typeCol: String, idCol: String, tbl: String,
      maxLen: Option[Int] = None, reluctant: Boolean = false): String = {
    val txt = runsSubText(st, minLen, key, tsCol, typeCol, idCol, tbl,
      maxLen, reluctant)
    val sess = matSession.get()
    if (sess == null) txt
    else {
      val view = "__graft_runs_" +
        org.apache.commons.codec.digest.DigestUtils.md5Hex(txt).take(12)
      val df = graft.Caching.cache(sess.sql(s"SELECT * FROM $txt __r"))
      df.createOrReplaceTempView(view)
      createdViews.computeIfAbsent(sess,
        _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
        .add(view)
      s"`$view`"
    }
  }

  private def runsSubText(st: PatternStep, minLen: Int, key: String,
      tsCol: String, typeCol: String, idCol: String, tbl: String,
      maxLen: Option[Int] = None, reluctant: Boolean = false): String = {
    def bq(c: String) = s"`$c`"
    val (k, t, id) = (bq(key), bq(tsCol), bq(idCol))
    val cls = stepPredSql("", st, typeCol)
    val cap = maxLen.map(n => s" AND count(*) <= $n").getOrElse("")
    val islands =
      s"""(SELECT $k, $t, $id,
         |         CASE WHEN $cls THEN 1 ELSE 0 END AS __c,
         |         row_number() OVER (PARTITION BY $k
         |                            ORDER BY $t, $id)
         |       - row_number() OVER (PARTITION BY $k,
         |                              CASE WHEN $cls THEN 1 ELSE 0 END
         |                            ORDER BY $t, $id) AS __grp
         |       FROM $tbl)""".stripMargin
    if (!reluctant)
      s"""(SELECT $k AS __k, count(*) AS run_len,
         |   min($t) AS run_start, max($t) AS run_end,
         |   min_by($id, struct($t, $id)) AS run_start_id,
         |   max_by($id, struct($t, $id)) AS run_end_id
         | FROM $islands o
         | WHERE __c = 1
         | GROUP BY $k, __grp HAVING count(*) >= $minLen$cap)""".stripMargin
    else
      // RELUCTANT (r8, `{m,}?`): truncate each qualifying run to its
      // FIRST minLen events — run_len is exactly minLen, run_end /
      // run_end_id come from the minLen-th event (FILTER over the
      // in-run position), while the >= minLen qualification still
      // tests the FULL maximal run. Same single window sort per key.
      s"""(SELECT $k AS __k, CAST($minLen AS BIGINT) AS run_len,
         |   min($t) AS run_start,
         |   max($t) FILTER (WHERE __rn <= $minLen) AS run_end,
         |   min_by($id, struct($t, $id)) AS run_start_id,
         |   max_by($id, struct($t, $id)) FILTER (WHERE __rn <= $minLen)
         |     AS run_end_id
         | FROM (SELECT *,
         |         row_number() OVER (PARTITION BY $k, __grp
         |                            ORDER BY $t, $id) AS __rn
         |       FROM $islands oo WHERE __c = 1) o
         | GROUP BY $k, __grp HAVING count(*) >= $minLen)""".stripMargin
  }

  /** Shared step predicate: type test (`=` / `IN` for an alternation)
    * plus the optional `(col op num)` condition (r7 DEFINE-lite).
    * `alias` empty → bare columns. Every fragment comes from tightly
    * validated grammar groups (identifiers, a fixed operator set, a
    * numeric literal), so embedding is injection-safe. */
  private def stepPredSql(alias: String, st: PatternStep,
      typeCol: String): String = {
    def bq(c: String) = s"`$c`"
    def qual(c: String) = if (alias.isEmpty) bq(c) else s"$alias.${bq(c)}"
    val ty = qual(typeCol)
    val tp =
      if (st.events.size == 1) s"$ty = '${st.events.head}'"
      else s"$ty IN (${st.events.map(e => s"'$e'").mkString(", ")})"
    st.cond match {
      case Some(StepCond(col, op, num)) =>
        val sqlOp = if (op == "!=") "<>" else op
        s"($tp AND ${qual(col)} $sqlOp $num)"
      case None => tp
    }
  }

  /** Generalized chain rewrite (N ≥ 2 steps, alternation on any step,
    * `{m,}`/`{m,n}`/`{m}` on any non-NOT step): a chain of rank-1 joins,
    * one greedy match per anchor (AFTER MATCH SKIP TO NEXT ROW).
    *
    * Step semantics: an unquantified step i matches the FIRST event of
    * its class strictly after step i-1's match time and within the
    * anchor's window; a quantified step i matches the FIRST maximal run
    * of ≥ m (and ≤ n when bounded) consecutive class events whose start
    * is strictly after step i-1's match time and whose END still fits
    * the window (whole-run semantics — a run that overflows the window
    * or the length cap does not match). A
    * quantified step contributes `len_i` (run length) + `ts_i` (run end)
    * to the output; an unquantified step contributes `id_i` + `ts_i`.
    * The window is measured from ts_1 — for a quantified FIRST step that
    * is the run's end, consistent with the 2-step quantified form.
    *
    * Optional steps (r7, `ev?` — plain chains only): the step after an
    * optional one decides the skip, regex-scan style. The FIRST event of
    * either class (optional's or successor's) after the previous step is
    * the pivot: if it belongs to the optional class (greedy — an event in
    * both classes counts as the optional match), the optional step takes
    * it and the successor seeks onward from it; otherwise the optional
    * step is skipped (NULL id_i/ts_i) and the pivot IS the successor's
    * match. Deterministic, and identical to the streaming scan. */
  private def translateChain(spec: PatternSpec, tsCol: String,
      typeCol: String, idCol: String): String = {
    val steps = spec.steps
    val tbl = spec.table
    val (n, unit) = (spec.n.toString, spec.unit)
    def bq(c: String) = s"`$c`"
    val (k, t, ty, id) = (bq(spec.key), bq(tsCol), bq(typeCol), bq(idCol))
    def inPred(alias: String, st: PatternStep): String =
      stepPredSql(alias, st, typeCol)
    val chainSteps = if (spec.absent) steps.init else steps
    def lbl(i: Int): String =
      if (chainSteps(i - 1).minTimes.isDefined) s"len_$i" else s"id_$i"
    def cols(i: Int): String =
      (1 to i).map(lbl).mkString(", ") + ", " +
        (1 to i).map(j => s"ts_$j").mkString(", ")
    // internal island identity (ADVICE r9): each quantified step also
    // carries its run's START row id through the prefix — reluctant runs
    // emit run_len = m (a constant), so the measures path's island
    // re-join on (run_end, run_len) degrades to run_end alone and two
    // islands whose m-th events share a microsecond would cross-join.
    // run_start_id is a globally unique event id, so (__k, rsid_i)
    // identifies the island exactly for greedy AND reluctant runs.
    // rsid columns never reach the user-facing SELECT (cols() excludes
    // them); they exist only inside the prefix pipeline and re-joins.
    def rsids(i: Int): Seq[String] =
      (1 to i).filter(j => chainSteps(j - 1).minTimes.isDefined)
        .map(j => s"rsid_$j")
    def colsInt(i: Int): String =
      cols(i) + rsids(i).map(c => s", $c").mkString
    // rank-1 partition: the anchor. An unquantified first step has a
    // globally unique id_1; a quantified first step anchors on its
    // run's START row id (rsid_1) — unique per island even when two
    // islands' end timestamps share a microsecond (run_end alone is NOT
    // unique for reluctant runs, whose run_len is the constant m, nor
    // for greedy runs under same-microsecond end ties; ADVICE r9).
    val anchor =
      if (chainSteps.head.minTimes.isDefined) "p.__k, p.rsid_1"
      else "p.id_1"
    var prefix = chainSteps.head.minTimes match {
      case Some(mt) =>
        val runs = runsSub(chainSteps.head, mt, spec.key, tsCol,
          typeCol, idCol, tbl, chainSteps.head.maxTimes,
          chainSteps.head.reluctant)
        s"(SELECT __k, run_len AS len_1, run_end AS ts_1, " +
          s"run_start_id AS rsid_1 FROM $runs r0)"
      case None =>
        s"""(SELECT $k AS __k, $id AS id_1, $t AS ts_1
           |   FROM $tbl WHERE ${inPred("", chainSteps.head)})""".stripMargin
    }
    // composite stage for an optional step i and its concrete successor
    // i+1 (plain chains only, so the anchor is always p.id_1): pivot =
    // rank-1 over the UNION of both classes; the pivot's class decides
    // take vs skip (see the scaladoc above)
    def compositeOpt(i: Int): String = {
      val stOpt = chainSteps(i - 1)
      val stNxt = chainSteps(i)
      val bPred = inPred("b", stOpt)
      val cPred = inPred("b", stNxt)
      val pLbls = (1 until i).map(j => s"p.${lbl(j)}").mkString(", ")
      val pTs = (1 until i).map(j => s"p.ts_$j").mkString(", ")
      val pivot =
        s"""(SELECT * FROM (
           |  SELECT p.__k, $pLbls, $pTs,
           |         b.$id AS pv_id, b.$t AS pv_ts,
           |         CASE WHEN $bPred THEN 1 ELSE 0 END AS pv_b,
           |         row_number() OVER (PARTITION BY p.id_1
           |                            ORDER BY b.$t, b.$id) AS __rn
           |  FROM $prefix p JOIN $tbl b
           |  ON p.__k = b.$k AND ($bPred OR $cPred)
           |     AND b.$t > p.ts_${i - 1}
           |     AND b.$t <= p.ts_1 + INTERVAL $n $unit
           |) WHERE __rn = 1)""".stripMargin
      val wLbls = (1 until i).map(j => s"w.${lbl(j)}").mkString(", ")
      val wTs = (1 until i).map(j => s"w.ts_$j").mkString(", ")
      // typed NULLs for the skipped step: CASE WHEN FALSE folds to a null
      // of the PIVOT column's own type, so a non-bigint idColumn (the
      // spark.graft.cep.idColumn surface) unions cleanly with the take arm
      val skipLbls = (Seq(s"CASE WHEN FALSE THEN w.pv_id END AS id_$i",
        s"w.pv_id AS id_${i + 1}")).mkString(", ")
      val skipTs = (Seq(s"CASE WHEN FALSE THEN w.pv_ts END AS ts_$i",
        s"w.pv_ts AS ts_${i + 1}")).mkString(", ")
      s"""(SELECT __k, ${cols(i + 1)} FROM (
         |  SELECT w.__k, $wLbls, w.pv_id AS id_$i,
         |         b.$id AS id_${i + 1},
         |         $wTs, w.pv_ts AS ts_$i, b.$t AS ts_${i + 1},
         |         row_number() OVER (PARTITION BY w.id_1
         |                            ORDER BY b.$t, b.$id) AS __rn2
         |  FROM $pivot w JOIN $tbl b
         |  ON w.__k = b.$k AND $cPred AND b.$t > w.pv_ts
         |     AND b.$t <= w.ts_1 + INTERVAL $n $unit
         |  WHERE w.pv_b = 1
         |) WHERE __rn2 = 1
         |UNION ALL
         |SELECT w.__k, $wLbls, $skipLbls, $wTs, $skipTs
         |FROM $pivot w WHERE w.pv_b = 0)""".stripMargin
    }
    var i = 2
    while (i <= chainSteps.length) {
      if (chainSteps(i - 1).optional) {
        prefix = compositeOpt(i)
        i += 2
      } else {
      val st = chainSteps(i - 1)
      val prevLbls = (1 until i).map(j => s"p.${lbl(j)}").mkString(", ")
      val prevTs = (1 until i).map(j => s"p.ts_$j").mkString(", ")
      val prevRsids = rsids(i - 1).map(c => s"p.$c, ").mkString
      prefix = st.minTimes match {
        case Some(mt) =>
          val runs = runsSub(st, mt, spec.key, tsCol, typeCol,
            idCol, tbl, st.maxTimes, st.reluctant)
          s"""(SELECT __k, ${colsInt(i)} FROM (
             |  SELECT p.__k, $prevLbls,
             |         r.run_len AS len_$i,
             |         $prevTs,
             |         r.run_end AS ts_$i,
             |         ${prevRsids}r.run_start_id AS rsid_$i,
             |         row_number() OVER (PARTITION BY $anchor
             |                            ORDER BY r.run_start, r.run_end,
             |                                     r.run_start_id) AS __rn
             |  FROM $prefix p JOIN $runs r
             |  ON p.__k = r.__k
             |     AND r.run_start > p.ts_${i - 1}
             |     AND r.run_end <= p.ts_1 + INTERVAL $n $unit
             |) WHERE __rn = 1)""".stripMargin
        case None =>
          val carryRsids = rsids(i).map(c => s"p.$c, ").mkString
          s"""(SELECT __k, ${colsInt(i)} FROM (
             |  SELECT p.__k, $prevLbls,
             |         b.$id AS id_$i,
             |         $prevTs,
             |         ${carryRsids}b.$t AS ts_$i,
             |         row_number() OVER (PARTITION BY $anchor
             |                            ORDER BY b.$t, b.$id) AS __rn
             |  FROM $prefix p JOIN $tbl b
             |  ON p.__k = b.$k AND ${inPred("b", st)}
             |     AND b.$t > p.ts_${i - 1}
             |     AND b.$t <= p.ts_1 + INTERVAL $n $unit
             |) WHERE __rn = 1)""".stripMargin
      }
      i += 1
      }
    }
    val np = chainSteps.length
    val order =
      if (chainSteps.head.minTimes.isDefined) s"$k, ts_1" else "id_1"
    if (spec.absent && spec.measures.isEmpty)
      s"""SELECT __k AS $k, ${cols(np)}
         |FROM $prefix p
         |LEFT ANTI JOIN (SELECT * FROM $tbl WHERE ${inPred("", steps.last)}) b
         |ON p.__k = b.$k AND b.$t > p.ts_$np
         |   AND b.$t <= p.ts_1 + INTERVAL $n $unit
         |ORDER BY $order""".stripMargin
    else if (spec.measures.nonEmpty) {
      // MEASURES × absent (r14): the anti join against the NOT class
      // wraps the PREFIX — surviving matches then flow through the
      // measures machinery below unchanged (span/ref/boundary joins
      // touch match cardinality either way, and every emitted column
      // belongs to the positive prefix, whose last step is
      // chainSteps.last — steps.init for an absent spec)
      if (spec.absent)
        prefix =
          s"""(SELECT p.* FROM $prefix p
             |LEFT ANTI JOIN (SELECT * FROM $tbl
             |                WHERE ${inPred("", steps.last)}) z
             |ON p.__k = z.$k AND z.$t > p.ts_$np
             |   AND z.$t <= p.ts_1 + INTERVAL $n $unit)""".stripMargin
      // MEASURES (r7, list since r8; quantified steps since r8 too —
      // labels are id_i or len_i per step, span bounds recovered from
      // the runs subquery when an end step is a run).
      //  - span aggregates share ONE span join (every event of the key
      //    between the match's first and last rows in (ts, id)
      //    lexicographic order, inclusive, regardless of type) + the
      //    GROUP BY over the chain columns;
      //  - class references join the events table once per referenced
      //    step on the matched row's id — at scale that is a
      //    broadcast-able join of matches (small) against a type-pruned
      //    scan, and Catalyst prunes the scan to the referenced column;
      //  - match_number() is a row_number window over the (grouped)
      //    match rows — windows evaluate after GROUP BY, so one SELECT
      //    level serves both engines identically.
      val ms = spec.measures
      val spanAggs = ms.collect { case s: SpanAgg => s }
      val refSteps = ms.collect { case c: ClassRef => c.step }.distinct.sorted
      // quantified span ends (r8): a run's prefix stage carries only
      // (len_i, ts_i = run_end), so the span's boundary ROW (first/last
      // event of the run in (ts, id) order) is recovered by re-joining
      // the runs subquery on its (end ts, length) — runs are disjoint
      // maximal islands per key, so the pair identifies the run
      val headQ = chainSteps.head.minTimes.isDefined
      val lastQ = np > 1 && chainSteps.last.minTimes.isDefined
      def runsFor(i: Int) = {
        val st = chainSteps(i)
        runsSub(st, st.minTimes.get, spec.key, tsCol, typeCol, idCol,
          tbl, st.maxTimes, st.reluctant)
      }
      // island identity joins on run_start_id (ADVICE r9): run_end +
      // run_len alone is ambiguous for reluctant runs (run_len is the
      // constant m) when two islands' m-th events share a microsecond
      val boundJoins =
        (if (headQ && spanAggs.nonEmpty)
           s"JOIN ${runsFor(0)} r0 ON r0.__k = p.__k " +
             s"AND r0.run_end = p.ts_1 AND r0.run_len = p.len_1 " +
             s"AND r0.run_start_id = p.rsid_1\n"
         else "") +
        (if (lastQ && spanAggs.nonEmpty)
           s"JOIN ${runsFor(np - 1)} rn ON rn.__k = p.__k " +
             s"AND rn.run_end = p.ts_$np AND rn.run_len = p.len_$np " +
             s"AND rn.run_start_id = p.rsid_$np\n"
         else "")
      val (sTs, sId) =
        if (headQ) ("r0.run_start", "r0.run_start_id")
        else (s"p.ts_1", s"p.id_1")
      val (eTs, eId) =
        if (lastQ) (s"p.ts_$np", "rn.run_end_id")
        // a 1-step QUANTIFIED prefix (reachable via the r14 absent ×
        // measures form, e.g. `b{2,} THEN NOT d`) has no id_1 — the
        // span's end row is the head run's END row (r0 is already
        // joined for the span start)
        else if (np == 1 && headQ) ("p.ts_1", "r0.run_end_id")
        else (s"p.ts_$np", s"p.id_$np")
      val spanJoin =
        if (spanAggs.isEmpty) ""
        else
          s"""|${boundJoins}JOIN $tbl e
              |ON p.__k = e.$k
              |   AND (e.$t > $sTs OR (e.$t = $sTs AND e.$id >= $sId))
              |   AND (e.$t < $eTs
              |        OR (e.$t = $eTs AND e.$id <= $eId))
              |""".stripMargin
      val refJoins = refSteps.map(i =>
        s"JOIN $tbl s$i ON s$i.$k = p.__k AND s$i.$id = p.id_$i").mkString("\n")
      // BoundRef (r8): each referenced quantified step re-joins its runs
      // subquery on (run_end, run_len) — the same disjoint-island
      // identification as boundJoins — exposing run_start/_end and the
      // boundary-row ids; a non-ts/id column adds one more events join
      // on the boundary id. Match-set cardinality throughout: these
      // joins touch matches, never the raw event volume.
      val boundRefs = ms.collect { case b: BoundRef => b }
      // reuse the span-bound runs joins (r0 / rn) when the referenced
      // step is already re-joined for the span — each runs subquery is
      // two window passes over events, so a duplicate join is real cost
      def rbAlias(i: Int): String =
        if (i == 1 && headQ && spanAggs.nonEmpty) "r0"
        else if (i == np && lastQ && spanAggs.nonEmpty) "rn"
        else s"rb$i"
      val boundSteps = boundRefs.map(_.step).distinct.sorted
        .filter(i => rbAlias(i) == s"rb$i")
      val boundRunJoins = boundSteps.map(i =>
        s"JOIN ${runsFor(i - 1)} rb$i ON rb$i.__k = p.__k " +
          s"AND rb$i.run_end = p.ts_$i AND rb$i.run_len = p.len_$i " +
          s"AND rb$i.run_start_id = p.rsid_$i")
        .mkString("\n")
      def boundRowId(b: BoundRef): String =
        if (b.fn == "FIRST") s"${rbAlias(b.step)}.run_start_id"
        else s"${rbAlias(b.step)}.run_end_id"
      // one events join per DISTINCT boundary row actually needed for a
      // non-shortcut column
      val boundRowJoins = boundRefs
        .filter(b => !b.col.equalsIgnoreCase(tsCol) &&
          !b.col.equalsIgnoreCase(idCol))
        .map(b => (b.step, b.fn)).distinct
        .map { case (i, fn) =>
          val al = s"bv${i}_${fn.toLowerCase(java.util.Locale.ROOT)}"
          val rid = if (fn == "FIRST") s"${rbAlias(i)}.run_start_id"
            else s"${rbAlias(i)}.run_end_id"
          s"JOIN $tbl $al ON $al.$k = p.__k AND $al.$id = $rid"
        }.mkString("\n")
      def boundSel(b: BoundRef): String =
        if (b.col.equalsIgnoreCase(tsCol))
          (if (b.fn == "FIRST") s"${rbAlias(b.step)}.run_start"
           else s"${rbAlias(b.step)}.run_end") + s" AS ${bq(b.alias)}"
        else if (b.col.equalsIgnoreCase(idCol))
          s"${boundRowId(b)} AS ${bq(b.alias)}"
        else {
          val al = s"bv${b.step}_${b.fn.toLowerCase(java.util.Locale.ROOT)}"
          s"$al.${bq(b.col)} AS ${bq(b.alias)}"
        }
      def sel(mea: Measure): String = mea match {
        case SpanAgg(fn, c, a) =>
          val ex =
            if (c == "*") "count(*)"
            else s"${fn.toLowerCase(java.util.Locale.ROOT)}(e.${bq(c)})"
          s"$ex AS ${bq(a)}"
        case ClassRef(_, c, i, a) => s"s$i.${bq(c)} AS ${bq(a)}"
        case b: BoundRef => boundSel(b)
        case MatchNum(a) =>
          // CAST: Spark's row_number is INT, DuckDB's BIGINT — emit
          // BIGINT so both engines (and the driver's schema check)
          // agree. A quantified head has no id_1; rsid_1 (the run's
          // start row id) breaks same-microsecond run_end ties so the
          // numbering stays a strict total order (ADVICE r9).
          val mnOrd = if (headQ) "ts_1, p.rsid_1" else "ts_1, id_1"
          s"CAST(row_number() OVER (PARTITION BY p.__k ORDER BY $mnOrd)" +
            s" AS BIGINT) AS ${bq(a)}"
      }
      val refCols = (ms.collect {
        case ClassRef(_, c, i, _) => s"s$i.${bq(c)}"
      } ++ boundRefs.map(b => boundSel(b).split(" AS ").head)).distinct
      val groupBy =
        if (spanAggs.isEmpty) ""
        else ("GROUP BY p.__k, " + cols(np) +
          // rsid_1 is functionally dependent on the match (one island
          // per anchor) so it never splits a group — it rides along so
          // the post-group match_number window can tie-break on it
          (if (headQ) ", p.rsid_1" else "") +
          (if (refCols.isEmpty) "" else refCols.mkString(", ", ", ", "")))
      s"""SELECT p.__k AS $k, ${cols(np)}, ${ms.map(sel).mkString(", ")}
         |FROM $prefix p
         |$spanJoin$refJoins
         |$boundRunJoins
         |$boundRowJoins
         |$groupBy
         |ORDER BY $order""".stripMargin
    } else
      s"""SELECT __k AS $k, ${cols(np)}
         |FROM $prefix
         |ORDER BY $order""".stripMargin
  }

  /** `PERMUTE(a, b)` rewrite (r7): the order-free pair — every `a` or
    * `b` event anchors (skip-to-next-row), and the match is the FIRST
    * event of the OPPOSITE class strictly after the anchor within the
    * window. Emitted as the UNION of the two directional 2-step rank-1
    * formulations (each identical to the proven q_cep_seq shape), with
    * `first_ev` carrying the anchor's event name. An anchor's direction
    * is fixed by its own type, so every output row has a unique
    * `first_id` — the deterministic sort key. */
  private def translatePermute(spec: PatternSpec, tsCol: String,
      typeCol: String, idCol: String): String = {
    val tbl = spec.table
    val (n, unit) = (spec.n.toString, spec.unit)
    def bq(c: String) = s"`$c`"
    val (k, t, id) = (bq(spec.key), bq(tsCol), bq(idCol))
    def dir(first: PatternStep, second: PatternStep): String =
      s"""SELECT $k, first_ev, first_id, second_id, first_ts, second_ts
         |FROM (
         |  SELECT a.$k AS $k, '${first.event}' AS first_ev,
         |         a.$id AS first_id, b.$id AS second_id,
         |         a.$t AS first_ts, b.$t AS second_ts,
         |         row_number() OVER (PARTITION BY a.$id
         |                            ORDER BY b.$t, b.$id) AS __rn
         |  FROM $tbl a JOIN $tbl b
         |  ON a.$k = b.$k AND ${stepPredSql("a", first, typeCol)}
         |     AND ${stepPredSql("b", second, typeCol)}
         |     AND b.$t > a.$t AND b.$t <= a.$t + INTERVAL $n $unit
         |) WHERE __rn = 1""".stripMargin
    if (spec.steps.length == 2) {
      val Seq(sa, sb) = spec.steps
      s"""SELECT * FROM (
         |${dir(sa, sb)}
         |UNION ALL
         |${dir(sb, sa)}
         |) ORDER BY first_id""".stripMargin
    } else translatePermute3(spec, tsCol, typeCol, idCol)
  }

  /** `PERMUTE(a, b, c)` rewrite (r9): MATCH_RECOGNIZE expands PERMUTE
    * to the alternation of all orderings in LISTED-lexicographic order,
    * tried per anchor. Every a/b/c event anchors (skip-to-next-row);
    * for an anchor of class X the two candidate orders are (X, Y, Z)
    * then (X, Z, Y) with Y before Z in listed order, each matched by
    * the repo's greedy rank-1 chain discipline (first qualifying event
    * per step, no backtracking — the same documented greedy-scan
    * semantics as optional steps), and the FIRST alternative that
    * completes wins (the second contributes only anchors the first
    * left unmatched — an anti join on the globally unique anchor id).
    * Output: (key, first_ev, id_1..id_3, ts_1..ts_3) in MATCH order.
    * Plan: 6 rank-1 equi-join chains + 3 anti joins, all at event/match
    * cardinality — no cartesian anywhere. Streaming stays batch-routed
    * loudly (the per-anchor alternative preference needs a cross-
    * detector join; ContinuousQueries names this). */
  private def translatePermute3(spec: PatternSpec, tsCol: String,
      typeCol: String, idCol: String): String = {
    val tbl = spec.table
    val (n, unit) = (spec.n.toString, spec.unit)
    def bq(c: String) = s"`$c`"
    val (k, t, id) = (bq(spec.key), bq(tsCol), bq(idCol))
    def chain(first: PatternStep, second: PatternStep,
        third: PatternStep): String =
      s"""(SELECT __k, first_id, id_2, id_3, first_ts, ts_2, ts_3 FROM (
         |  SELECT p.__k, p.first_id, p.id_2, p.first_ts, p.ts_2,
         |         c.$id AS id_3, c.$t AS ts_3,
         |         row_number() OVER (PARTITION BY p.first_id
         |                            ORDER BY c.$t, c.$id) AS __rn2
         |  FROM (
         |    SELECT a.$k AS __k, a.$id AS first_id, a.$t AS first_ts,
         |           b.$id AS id_2, b.$t AS ts_2,
         |           row_number() OVER (PARTITION BY a.$id
         |                              ORDER BY b.$t, b.$id) AS __rn
         |    FROM $tbl a JOIN $tbl b
         |    ON a.$k = b.$k AND ${stepPredSql("a", first, typeCol)}
         |       AND ${stepPredSql("b", second, typeCol)}
         |       AND b.$t > a.$t AND b.$t <= a.$t + INTERVAL $n $unit
         |  ) p JOIN $tbl c
         |  ON c.$k = p.__k AND ${stepPredSql("c", third, typeCol)}
         |     AND c.$t > p.ts_2
         |     AND c.$t <= p.first_ts + INTERVAL $n $unit
         |  WHERE p.__rn = 1
         |) WHERE __rn2 = 1)""".stripMargin
    val Seq(sa, sb, sc) = spec.steps
    // per anchor class X: candidate orders (X, Y, Z) then (X, Z, Y)
    // with Y before Z in listed order
    val arms = Seq((sa, sb, sc), (sb, sa, sc), (sc, sa, sb))
    def cn(x: PatternStep, y: PatternStep, z: PatternStep) =
      s"c_${x.event}_${y.event}_${z.event}"
    val defs = arms.flatMap { case (x, y, z) =>
      Seq(s"${cn(x, y, z)} AS ${chain(x, y, z)}",
        s"${cn(x, z, y)} AS ${chain(x, z, y)}")
    }
    // r14 (optimization round, guide §2.4): listed-order preference via
    // ONE window dedup instead of three NOT-IN anti joins. Each chain
    // CTE yields AT MOST ONE row per anchor (two nested rank-1
    // filters), and an anchor event belongs to exactly one class, so
    // "arm 2 fires only where arm 1 left the anchor unmatched" is
    // exactly row_number() OVER (PARTITION BY first_id ORDER BY pref)
    // = 1 over the union of all six tagged arms. The old NOT-IN form
    // re-executed each first-preference chain subquery inside its anti
    // join (Spark inlines CTE references) — 9 chain-subquery executions
    // per run; this form executes each of the 6 exactly once and
    // dedups on the (small) match set. Results identical (pinned by the
    // brute-force scan in CepSqlSpec, the q_pattern_permute3 oracle,
    // and the Permute3Detector replay).
    def armSel(pref: Int, x: PatternStep, y: PatternStep,
        z: PatternStep): String =
      s"""SELECT __k, '${x.event}' AS first_ev, first_id AS id_1, id_2,
         |  id_3, first_ts AS ts_1, ts_2, ts_3, $pref AS __pref
         |FROM ${cn(x, y, z)}""".stripMargin
    val armUnion = Seq((sa, sb, sc), (sb, sa, sc), (sc, sa, sb))
      .flatMap { case (x, y, z) =>
        Seq(armSel(0, x, y, z), armSel(1, x, z, y)) }
      .mkString("\nUNION ALL\n")
    s"""WITH ${defs.mkString(",\n")}
       |SELECT ${"__k AS " + k}, first_ev, id_1, id_2, id_3,
       |  ts_1, ts_2, ts_3 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY id_1
       |                               ORDER BY __pref) AS __arm FROM (
       |$armUnion
       |  )
       |) WHERE __arm = 1 ORDER BY id_1""".stripMargin
  }

  /** AFTER MATCH SKIP PAST LAST ROW rewrite: greedy NON-OVERLAPPING
    * matching as a recursive CTE (Spark ≥ 4.0). Per key, the first match
    * is the lexicographically smallest valid chain — greedy stepwise
    * minimization and lexicographic (ts_1, id_1, ts_2, id_2, …) order
    * coincide, because the valid completions of a fixed prefix do not
    * depend on later choices — and each next match is the smallest valid
    * chain anchored strictly after the previous match's last row.
    *
    * Scale note: this is the pure-SQL-TEXT surface. The `chains`
    * subquery enumerates every valid chain (combinatorial for dense
    * windows) and recursion depth is the max match count per key
    * (`spark.sql.cteRecursionLevelLimit`, default 100). The scale path
    * is [[graft.operators.SkipMatch]] — one shuffle, a linear per-key
    * scan, no recursion — which [[sql]] dispatches to; both are pinned
    * equivalent by SkipMatchSpec. */
  private def translateSkip(spec: PatternSpec, tsCol: String,
      typeCol: String, idCol: String): String = {
    val steps = spec.steps
    val tbl = spec.table
    val (n, unit) = (spec.n.toString, spec.unit)
    def bq(c: String) = s"`$c`"
    val (k, t, ty, id) = (bq(spec.key), bq(tsCol), bq(typeCol), bq(idCol))
    def inPred(alias: String, st: PatternStep): String =
      stepPredSql(alias, st, typeCol)
    val np = steps.length
    def alias(i: Int): String = if (i == 1) "a" else s"b$i"
    val selCols = (s"a.$k AS __k" +:
      (1 to np).map(i => s"${alias(i)}.$id AS id_$i")) ++
      (1 to np).map(i => s"${alias(i)}.$t AS ts_$i")
    val joins = (2 to np).map { i =>
      s"""JOIN $tbl b$i ON b$i.$k = a.$k AND ${inPred(s"b$i", steps(i - 1))}
         |  AND b$i.$t > ${alias(i - 1)}.$t
         |  AND b$i.$t <= a.$t + INTERVAL $n $unit""".stripMargin
    }.mkString("\n")
    val chains =
      s"""(SELECT ${selCols.mkString(", ")}
         | FROM $tbl a
         | $joins
         | WHERE ${inPred("a", steps.head)})""".stripMargin
    val lex = (1 to np).map(i => s"ts_$i, id_$i").mkString(", ")
    val outCols = (1 to np).map(i => s"id_$i").mkString(", ") + ", " +
      (1 to np).map(i => s"ts_$i").mkString(", ")
    s"""WITH RECURSIVE m AS (
       |  SELECT __k, $outCols FROM (
       |    SELECT c.*, row_number() OVER (PARTITION BY __k
       |                                   ORDER BY $lex) AS __rn
       |    FROM $chains c) WHERE __rn = 1
       |  UNION ALL
       |  SELECT nxt.__k, ${(1 to np).map(i => s"nxt.id_$i").mkString(", ")},
       |         ${(1 to np).map(i => s"nxt.ts_$i").mkString(", ")}
       |  FROM m,
       |  LATERAL (
       |    SELECT c.* FROM $chains c
       |    WHERE c.__k = m.__k AND (c.ts_1 > m.ts_$np
       |                             OR (c.ts_1 = m.ts_$np
       |                                 AND c.id_1 > m.id_$np))
       |    ORDER BY $lex LIMIT 1
       |  ) nxt
       |)
       |SELECT __k AS $k, $outCols FROM m ORDER BY id_1""".stripMargin
  }

  /** True when the text contains MATCH PATTERN outside string literals
    * and comments — i.e. it is a pattern statement, not data. */
  private def realMatchPattern(q: String): Boolean = {
    if (!matchPat.matcher(q).find()) return false
    val (lit, _) = scan(q)
    val mp = matchPat.matcher(q)
    while (mp.find()) if (!lit(mp.start())) return true
    false
  }

  /** Translate and run against the session's registered views (batch or
    * streaming — the plan is identical either way). One special case: an
    * AFTER MATCH SKIP PAST LAST ROW pattern dispatches to the
    * [[graft.operators.SkipMatch]] linear-scan operator instead of the
    * recursive-CTE text [[translate]] emits — same result (pinned by
    * SkipMatchSpec), no recursion-depth ceiling, one shuffle. */
  def sql(spark: SparkSession, q: String, tsCol: String = "ts",
      typeCol: String = "event_type", idCol: String = "event_id"): DataFrame =
    if (realMatchPattern(q) && parsePattern(q).skipPast) {
      val spec = parsePattern(q)
      val tbl = spark.table(spec.table)
      // SkipMatch keys on a long — a non-integral PARTITION BY column
      // would cast to null and collapse every key into one group; fail
      // loudly here instead (ADVICE r7)
      val keyType = tbl.schema.fields
        .find(_.name.equalsIgnoreCase(spec.key))
        .getOrElse(throw new IllegalArgumentException(
          s"PARTITION BY column '${spec.key}' not found in " +
            s"'${spec.table}' (${tbl.schema.fieldNames.mkString(", ")})"))
        .dataType
      keyType match {
        case _: org.apache.spark.sql.types.ByteType |
            _: org.apache.spark.sql.types.ShortType |
            _: org.apache.spark.sql.types.IntegerType |
            _: org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"AFTER MATCH SKIP PAST LAST ROW partitions by an integral " +
            s"key (got '${spec.key}': ${other.simpleString}) — the " +
            "SkipMatch operator keys on a long; cast the column or " +
            "partition by an integral id")
      }
      graft.operators.SkipMatch.matchChain(tbl,
        spec.steps.map(_.events), spec.withinMs, spec.key, tsCol, typeCol,
        idCol,
        spec.steps.map(_.cond.map(c => (c.col, c.op, c.num.toDouble))))
    } else if (realAsof(q)) {
      asofDispatch(spark, q, idCol)
    } else if (realExclude(q)) {
      spark.sql(excludeRewrite(spark, q))
    } else if (realRename(q)) {
      spark.sql(renameRewrite(spark, q))
    } else if (realPivot(q)) {
      spark.sql(pivotRewrite(spark, q))
    } else if (realUnpivot(q)) {
      spark.sql(unpivotRewrite(spark, q))
    } else {
      // r14 (optimization round): on the function path, let runsSub
      // materialize its gaps-and-islands frame as a cached temp view so
      // multi-reference rewrites (measures/boundary forms re-join the
      // runs subquery; Spark inlines CTEs, so each reference re-ran the
      // scan + double window + aggregation) compute it once per epoch.
      // The injected-parser path (plain spark.sql over dialect text)
      // never sets this and keeps the pure-text rewrite.
      matSession.set(spark)
      try spark.sql(translate(q, tsCol, typeCol, idCol))
      finally matSession.remove()
    }

  private[streaming] def realPivot(q: String): Boolean =
    pivotKw.matcher(q).find()

  private[streaming] def realUnpivot(q: String): Boolean =
    unpivotKw.matcher(q).find()

  /** Rewrite DuckDB's statement-leading UNPIVOT into Spark's
    * `FROM t UNPIVOT (v FOR n IN (…))` (see [[unpivotKw]]). Returns SQL
    * TEXT; shared by [[sql]] and [[CepSqlParser]]. */
  private[streaming] def unpivotRewrite(spark: SparkSession,
      q: String): String = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"UNPIVOT: $msg")
    val m = unpivotStmt.matcher(q)
    if (!m.matches())
      bad("the dialect accepts exactly `UNPIVOT table ON col[, …] | " +
        "COLUMNS(* EXCLUDE (col, …)) INTO NAME n VALUE v " +
        "[ORDER BY …] [LIMIT n]` (register a temp view for derived " +
        "inputs; Spark's own `FROM t UNPIVOT (…)` form needs no rewrite)")
    val (tbl, onSpec, nCol, vCol) =
      (m.group(1), m.group(2).trim, m.group(3), m.group(4))
    val (orderBy, limit) = (Option(m.group(5)), Option(m.group(6)))
    val cols = spark.table(tbl).columns
    def resolve(n: String): String = {
      if (!n.matches("[A-Za-z_]\\w*"))
        bad(s"ON item '$n' must be a bare column name")
      cols.find(_.equalsIgnoreCase(n)).getOrElse(
        bad(s"ON column '$n' is not a column of '$tbl' (has: " +
          s"${cols.mkString(", ")})"))
    }
    val em = unpivotExcl.matcher(onSpec)
    val onCols: Seq[String] =
      if (em.matches()) {
        val excl = em.group(1).split(",").map(_.trim).map(resolve)
        val kept = cols.filterNot(c => excl.exists(_.equalsIgnoreCase(c)))
        if (kept.isEmpty) bad("COLUMNS(* EXCLUDE …) excludes everything")
        kept.toSeq
      } else onSpec.split(",").map(_.trim).map(resolve).toSeq
    if (onCols.length == cols.length)
      bad("ON melts every column — keep at least one identifier column")
    val tail = orderBy.map(o => s" ORDER BY $o").getOrElse("") +
      limit.map(n => s" LIMIT $n").getOrElse("")
    s"SELECT * FROM $tbl UNPIVOT (`$vCol` FOR `$nCol` IN " +
      s"(${onCols.map(c => s"`$c`").mkString(", ")}))$tail"
  }

  /** Rewrite DuckDB's statement-leading auto-PIVOT into Spark's
    * explicit-IN-list PIVOT (see [[pivotKw]]'s scaladoc). Returns SQL
    * TEXT; shared by [[sql]] and [[CepSqlParser]]. */
  private[streaming] def pivotRewrite(spark: SparkSession,
      q: String): String = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"PIVOT: $msg")
    val m = pivotStmt.matcher(q)
    if (!m.matches())
      bad("the dialect accepts exactly `PIVOT table ON col USING " +
        "agg(expr) GROUP BY col[, …] [ORDER BY …] [LIMIT n]` — one ON " +
        "column, one aggregate (register a temp view for derived " +
        "inputs; Spark's own `FROM t PIVOT (…)` subquery form needs no " +
        "rewrite)")
    val (tbl, onCol, aggFn, aggExpr) =
      (m.group(1), m.group(2), m.group(3), m.group(4))
    val grpCols = m.group(5)
    val (orderBy, limit) = (Option(m.group(6)), Option(m.group(7)))
    val aggs = Set("sum", "avg", "min", "max", "count")
    if (!aggs(aggFn.toLowerCase))
      bad(s"USING aggregate must be one of ${aggs.mkString("/")} " +
        s"(got '$aggFn')")
    val base = spark.table(tbl)
    if (base.isStreaming)
      bad("auto-PIVOT derives its IN list from a distinct scan of the " +
        "ON column — impossible on an unbounded stream; pivot a batch " +
        "snapshot, or use Spark's explicit `FROM t PIVOT (… IN (…))` " +
        "form with a literal value list")
    val cols = base.columns
    (onCol +: grpCols.split(",").map(_.trim)).foreach { c =>
      if (!cols.exists(_.equalsIgnoreCase(c)))
        bad(s"'$c' is not a column of '$tbl' (has: " +
          s"${cols.mkString(", ")})")
    }
    // derive the IN list: one distinct scan, sorted (a deterministic
    // column order), hard-capped — an unbounded pivot width is a scale
    // bug surfaced loudly, not materialized
    import org.apache.spark.sql.functions.col
    val vals = spark.table(tbl).select(col(onCol).cast("string"))
      .na.drop().distinct().limit(101).collect().map(_.getString(0))
    if (vals.length > 100)
      bad(s"ON column '$onCol' has > 100 distinct values — pivot " +
        "width must be bounded; pre-bucket the column")
    if (vals.isEmpty) bad(s"ON column '$onCol' has no non-null values")
    // sort the derived pivot columns in UTF-8 BYTE order, not Scala's
    // UTF-16 code-unit order (ADVICE r12): the two differ exactly on
    // supplementary characters (UTF-16 sorts surrogate pairs below
    // U+E000..U+FFFF; codepoint/UTF-8 order sorts them above all of
    // the BMP), and DuckDB's auto-PIVOT orders columns by its binary
    // UTF-8 collation — a non-ASCII ON value must not reorder columns
    // across engines
    val utf8Order: Ordering[String] = (a: String, b: String) => {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0; var r = 0
      val n = math.min(x.length, y.length)
      while (i < n && r == 0) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
      if (r != 0) r else x.length - y.length
    }
    val inList = vals.sorted(utf8Order)
      .map(v => "'" + v.replace("'", "''") + "'").mkString(", ")
    val tail = orderBy.map(o => s" ORDER BY $o").getOrElse("") +
      limit.map(n => s" LIMIT $n").getOrElse("")
    // the ON column casts to STRING in the pre-projection so the
    // derived IN list compares exactly and column names match DuckDB's
    // value-derived names for any input type
    s"SELECT * FROM (SELECT $grpCols, CAST(`$onCol` AS STRING) AS " +
      s"`$onCol`, ($aggExpr) AS __graft_pv FROM $tbl) " +
      s"PIVOT (${aggFn.toLowerCase}(__graft_pv) " +
      s"FOR `$onCol` IN ($inList))$tail"
  }

  private[streaming] def realExclude(q: String): Boolean = {
    // a statement-leading PIVOT/UNPIVOT owns its text — COLUMNS(*
    // EXCLUDE (…)) inside an UNPIVOT ON spec is that dialect's, not a
    // star modifier
    if (unpivotKw.matcher(q).find() || pivotKw.matcher(q).find())
      return false
    if (!excludeKw.matcher(q).find()) return false
    val (lit, _) = scan(q)
    val m = excludeKw.matcher(q)
    while (m.find()) if (!lit(m.start())) return true
    false
  }

  /** Split on commas at parenthesis depth 0 (REPLACE items may nest
    * function calls). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val sb = new StringBuilder
    s.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb += c
    }
    out += sb.toString
    out.toSeq
  }

  /** Expand `SELECT * EXCLUDE (…) [REPLACE (…)] FROM t <tail>` into plain
    * Spark SQL against t's resolved schema. Returns SQL TEXT so the
    * [[sql]] dispatch and the injected [[CepSqlParser]] share one path. */
  private[streaming] def excludeRewrite(spark: SparkSession,
      q: String): String = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"SELECT * EXCLUDE: $msg")
    val m = excludeStmt.matcher(q)
    if (!m.matches())
      bad("the dialect accepts exactly `SELECT * EXCLUDE (col, …) " +
        "[REPLACE (expr AS col, …)] FROM table [tail…]` — one base " +
        "table/view and bare EXCLUDE names (register a temp view for " +
        "derived inputs)")
    val (exList, repOpt, tbl) = (m.group(1), Option(m.group(2)), m.group(3))
    val tail = Option(m.group(4)).getOrElse("")
    if (excludeKw.matcher(tail).find())
      bad("one EXCLUDE per statement — star modifiers in a subquery " +
        "are not supported; expand the inner star by hand")
    // scan EVERY top-level ';', not just the first: a literal ';'
    // earlier in the text must not mask a real statement separator
    // after it (ADVICE r12)
    val (lit, _) = scan(q)
    var semi = q.indexOf(';')
    while (semi >= 0) {
      if (!lit(semi) && q.substring(semi + 1).trim.nonEmpty)
        bad("multi-statement text is ambiguous — submit one statement")
      semi = q.indexOf(';', semi + 1)
    }
    // the tail after the base table must be an optional `AS alias`
    // followed by a clause (or nothing): a JOIN / comma / bare second
    // table would make the star cover the whole FROM list while this
    // rewrite expands only the base table's columns — wrong output,
    // so it is loudly rejected like set-ops and subqueries (ADVICE r12)
    if (!excludeTail.matcher(tail).matches())
      bad("the star covers only the single base table — JOINs, comma " +
        "FROM lists and bare aliases are ambiguous here; register a " +
        "temp view for the joined input (or use `AS alias` + " +
        "WHERE/GROUP/HAVING/ORDER/LIMIT clauses only)")
    val tailAt = if (tail.isEmpty) -1 else m.start(4)
    if (tailAt >= 0) {
      val so = setOp.matcher(q)
      while (so.find())
        if (so.start() >= tailAt && !lit(so.start()))
          bad("a UNION/INTERSECT/EXCEPT statement is ambiguous — " +
            "expand the star inside the branch")
    }
    val cols = spark.table(tbl).columns
    val excluded = exList.split(",").map(_.trim).map { n =>
      if (!n.matches("[A-Za-z_]\\w*"))
        bad(s"EXCLUDE item '$n' must be a bare column name")
      cols.find(_.equalsIgnoreCase(n)).getOrElse(
        bad(s"EXCLUDE column '$n' is not a column of '$tbl' " +
          s"(has: ${cols.mkString(", ")})"))
    }
    if (excluded.map(_.toLowerCase).distinct.length != excluded.length)
      bad("duplicate EXCLUDE column")
    if (excluded.length == cols.length)
      bad(s"EXCLUDE removes every column of '$tbl'")
    val reps = repOpt.map(splitTopLevel).getOrElse(Seq.empty).map { it0 =>
      val it = it0.trim
      val rm = replaceItem.matcher(it)
      if (!rm.matches())
        bad(s"REPLACE item '$it' must be `<expr> AS <col>`")
      val (e, n) = (rm.group(1).trim, rm.group(2))
      val cn = cols.find(_.equalsIgnoreCase(n)).getOrElse(
        bad(s"REPLACE target '$n' is not a column of '$tbl' " +
          s"(has: ${cols.mkString(", ")})"))
      if (excluded.exists(_.equalsIgnoreCase(cn)))
        bad(s"REPLACE target '$cn' is also EXCLUDEd")
      cn -> e
    }
    if (reps.map(_._1.toLowerCase).distinct.length != reps.length)
      bad("duplicate REPLACE target")
    val repMap = reps.toMap
    val items = cols
      .filterNot(c => excluded.exists(_.equalsIgnoreCase(c)))
      .map(c => repMap.get(c).map(e => s"($e) AS `$c`").getOrElse(s"`$c`"))
    s"SELECT ${items.mkString(", ")} FROM $tbl$tail"
  }

  private[streaming] def realRename(q: String): Boolean = {
    if (!renameKw.matcher(q).find()) return false
    val (lit, _) = scan(q)
    val m = renameKw.matcher(q)
    while (m.find()) if (!lit(m.start())) return true
    false
  }

  /** Expand `SELECT * RENAME (old AS new, …) FROM t <tail>` against t's
    * resolved schema (see [[renameKw]]). Returns SQL TEXT; shares the
    * [[excludeRewrite]] guard discipline. */
  private[streaming] def renameRewrite(spark: SparkSession,
      q: String): String = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"SELECT * RENAME: $msg")
    val m = renameStmt.matcher(q)
    if (!m.matches())
      bad("the dialect accepts exactly `SELECT * RENAME (old AS new, …) " +
        "FROM table [tail…]` — one base table/view, bare column names " +
        "(register a temp view for derived inputs)")
    val (items, tbl) = (m.group(1), m.group(2))
    val tail = Option(m.group(3)).getOrElse("")
    val (lit, _) = scan(q)
    var semi = q.indexOf(';')
    while (semi >= 0) {
      if (!lit(semi) && q.substring(semi + 1).trim.nonEmpty)
        bad("multi-statement text is ambiguous — submit one statement")
      semi = q.indexOf(';', semi + 1)
    }
    if (!excludeTail.matcher(tail).matches())
      bad("the star covers only the single base table — JOINs, comma " +
        "FROM lists and bare aliases are ambiguous here; register a " +
        "temp view for the joined input (or use `AS alias` + " +
        "WHERE/GROUP/HAVING/ORDER/LIMIT clauses only)")
    val cols = spark.table(tbl).columns
    val renames = items.split(",").map(_.trim).map { it =>
      val rm = renameItem.matcher(it)
      if (!rm.matches())
        bad(s"RENAME item '$it' must be `<col> AS <newname>` with bare " +
          "identifiers (for computed columns use REPLACE)")
      val (o, n) = (rm.group(1), rm.group(2))
      val cn = cols.find(_.equalsIgnoreCase(o)).getOrElse(
        bad(s"RENAME source '$o' is not a column of '$tbl' " +
          s"(has: ${cols.mkString(", ")})"))
      cn -> n
    }
    if (renames.map(_._1.toLowerCase).distinct.length != renames.length)
      bad("duplicate RENAME source column")
    val newNames = renames.map(_._2.toLowerCase)
    if (newNames.distinct.length != newNames.length)
      bad("duplicate RENAME target name")
    val renamedFrom = renames.map(_._1.toLowerCase).toSet
    val surviving = cols.filterNot(c => renamedFrom(c.toLowerCase))
      .map(_.toLowerCase).toSet
    newNames.foreach { n =>
      if (surviving(n))
        bad(s"RENAME target '$n' collides with a surviving column")
    }
    val rmap = renames.toMap
    val sel = cols.map(c =>
      rmap.get(c).map(n => s"`$c` AS `$n`").getOrElse(s"`$c`"))
    s"SELECT ${sel.mkString(", ")} FROM $tbl$tail"
  }

  private def realAsof(q: String): Boolean = {
    if (!asofKw.matcher(q).find()) return false
    val (lit, _) = scan(q)
    val m = asofKw.matcher(q)
    while (m.find()) if (!lit(m.start())) return true
    false
  }

  /** `ASOF [LEFT] JOIN` text → [[graft.operators.TemporalJoins]]
    * backward carry (see [[asofKw]]'s scaladoc for the grammar and its
    * restrictions). Batch tables only — streaming as-of enrichment is
    * [[AsofEnrich]]. */
  private def asofDispatch(spark: org.apache.spark.sql.SparkSession,
      q: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, desc}
    val m = asofStmt.matcher(q)
    if (!m.matches())
      throw new IllegalArgumentException(
        "unsupported ASOF JOIN form — the dialect accepts exactly " +
          "`SELECT a.c [AS x], … FROM lt la ASOF [LEFT] JOIN rt ra " +
          "ON la.k = ra.k AND la.ts >= ra.ts [ORDER BY …] [LIMIT n]` " +
          "(register temp views for derived inputs); for other shapes " +
          "use operators.TemporalJoins directly")
    val (selList, ltName, la) = (m.group(1), m.group(2), m.group(3))
    val leftOuter = m.group(4) != null
    val (rtName, ra) = (m.group(5), m.group(6))
    val (eqA, eqAc, eqB, eqBc) =
      (m.group(7), m.group(8), m.group(9), m.group(10))
    val (inA, inAc, op, inB, inBc) =
      (m.group(11), m.group(12), m.group(13), m.group(14), m.group(15))
    val (orderBy, limit) = (Option(m.group(16)), Option(m.group(17)))
    def bad(msg: String) = throw new IllegalArgumentException(
      s"ASOF JOIN: $msg")
    // normalize the equality to (left key, right key)
    val (lk, rk) =
      if (eqA.equalsIgnoreCase(la) && eqB.equalsIgnoreCase(ra))
        (eqAc, eqBc)
      else if (eqA.equalsIgnoreCase(ra) && eqB.equalsIgnoreCase(la))
        (eqBc, eqAc)
      else bad(s"equality must relate the two aliases '$la' and '$ra'")
    // the inequality must read `left.ts >= right.ts` (backward as-of)
    if (!inA.equalsIgnoreCase(la) || !inB.equalsIgnoreCase(ra))
      bad("the inequality must be `" + la + ".<ts> >= " + ra +
        ".<ts>` — the backward as-of; for forward joins use " +
        "TemporalJoins.asofJoinForward directly")
    val lt = spark.table(ltName)
    val rt0 = spark.table(rtName)
    if (lt.isStreaming || rt0.isStreaming)
      bad("batch tables only — streaming as-of enrichment is " +
        "streaming/AsofEnrich")
    // unify the key name (the carry unions by name)
    val rt = if (rk == lk) rt0 else rt0.withColumnRenamed(rk, lk)
    val overlapCols = lt.columns.map(_.toLowerCase)
      .intersect(rt.columns.map(_.toLowerCase)).filterNot(_ == lk.toLowerCase)
    if (overlapCols.nonEmpty)
      bad(s"non-key columns must be disjoint across the two sides " +
        s"(shared: ${overlapCols.mkString(", ")}) — rename in the views")
    val rightId = rt.columns.find(_.equalsIgnoreCase(idCol))
      .getOrElse(inBc)
    var out = graft.operators.TemporalJoins.asofJoinBackwardCarry(
      lt, rt, Seq(lk), inAc, inBc, rightId, strict = op == ">")
    if (!leftOuter) out = out.filter(col(inBc).isNotNull)
    // resolve each select item against ITS side's column set: a bare-name
    // lookup would break on the right key after the rk→lk rename and would
    // silently resolve a wrong-side qualified reference to the other side
    val leftCols = lt.columns
    val rightCols = rt0.columns
    val items = selList.split(",").map(_.trim).map { it =>
      val im = asofSelItem.matcher(it)
      if (!im.matches())
        bad(s"select item '$it' — plain `alias.col [AS name]` only")
      val side = im.group(1)
      val cname = im.group(2)
      val resolved =
        if (side.equalsIgnoreCase(la))
          leftCols.find(_.equalsIgnoreCase(cname)).getOrElse(
            bad(s"select item '$it': '$cname' is not a column of " +
              s"'$ltName' (alias '$la' has: ${leftCols.mkString(", ")})"))
        else if (side.equalsIgnoreCase(ra)) {
          if (cname.equalsIgnoreCase(rk)) lk // unified key name post-rename
          else rightCols.find(_.equalsIgnoreCase(cname)).getOrElse(
            bad(s"select item '$it': '$cname' is not a column of " +
              s"'$rtName' (alias '$ra' has: ${rightCols.mkString(", ")})"))
        } else bad(s"select item '$it' references unknown alias '$side'")
      col(resolved).as(Option(im.group(3)).getOrElse(cname))
    }
    out = out.select(items.toIndexedSeq: _*)
    orderBy.foreach { ob =>
      val keys = ob.split(",").map(_.trim).map { k =>
        val kd = k.split("\\s+")
        if (kd.length == 2 && kd(1).equalsIgnoreCase("DESC")) desc(kd(0))
        else col(kd(0))
      }
      out = out.orderBy(keys.toIndexedSeq: _*)
    }
    limit.foreach(n => out = out.limit(n.toInt))
    out
  }
}

/** Parser extension delegating to Spark's parser after the reference-
  * dialect rewrite — the idiomatic endpoint SURVEY §3.2 names for the
  * reference's forked-parser EP1 surface. Plan-level entry points get the
  * rewrite; expression/identifier/type entry points pass straight through
  * (the dialect only extends full statements). The event-time column is
  * read per statement from `spark.graft.cep.tsColumn` (default `ts`). */
class CepSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  private def conf(key: String, default: String): String =
    try session.conf.get(key, default)
    catch { case _: Throwable => default }
  private def t(sqlText: String): String =
    // star modifiers / auto-PIVOT need schema (and data) resolution —
    // the parser HAS a session, so expand here rather than bouncing
    // the user to CepSql.sql
    if (CepSql.realExclude(sqlText)) CepSql.excludeRewrite(session, sqlText)
    else if (CepSql.realRename(sqlText))
      CepSql.renameRewrite(session, sqlText)
    else if (CepSql.realPivot(sqlText)) CepSql.pivotRewrite(session, sqlText)
    else if (CepSql.realUnpivot(sqlText))
      CepSql.unpivotRewrite(session, sqlText)
    else CepSql.translate(sqlText,
      conf("spark.graft.cep.tsColumn", "ts"),
      conf("spark.graft.cep.typeColumn", "event_type"),
      conf("spark.graft.cep.idColumn", "event_id"))

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(t(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(t(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
