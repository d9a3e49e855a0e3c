package graft.blob

import scala.collection.mutable

/** Bloblang text-syntax engine: lexer → parser → per-message evaluator.
  *
  * The reference's mapping language (internal/bloblang/parser,
  * internal/bloblang/mapping/executor.go) compiled from its TEXT form, so a
  * reference user's `.blobl` programs and inline `bloblang:` processor
  * strings run verbatim. This is an original recursive-descent
  * implementation over the same value model as the rest of `graft.blob`
  * (the JsonQuery jmespath/jq pattern): compile once on the driver,
  * evaluate per row.
  *
  * Executor semantics follow mapping/executor.go:136-229 exactly:
  *  - `root` starts as Nothing; a statement whose query yields Nothing is
  *    skipped entirely (executor.go:193-195);
  *  - final Nothing → message unchanged; Delete → message dropped;
  *  - a string/bytes root is emitted raw, anything else is JSON-marshaled
  *    (executor.go:210-228) with Go's sorted-key object form;
  *  - a failed statement fails the whole mapping: content unchanged +
  *    error flag (the processor contract, processor.go wrapping).
  *
  * Scope: the full surface exercised by the reference's declarative test
  * corpus (config/test/bloblang + cookbooks + resources) — named maps +
  * apply, match/if expressions, lambdas, let/meta statements, the method
  * library below. Batch-position functions (batch_index, count) and
  * nondeterministic generators (uuid_v4, now) are compile-time errors:
  * batch context belongs to window operators (SURVEY §2.6) and
  * nondeterminism has no oracle.
  *
  * Scale note: this is the COMPATIBILITY surface — an interpreted per-row
  * UDF, same execution shape as the reference's own evaluator. Hot paths
  * should use the Catalyst column mappings in `Blob` (codegen'd); this
  * engine is for running existing reference programs unchanged.
  */
object Bloblang {

  // ------------------------------------------------------------ values --
  // String | VBytes | Long | Double | Boolean | null | Vector[Any] |
  // Map[String, Any] | VNothing | VDelete — mirroring the Go evaluator's
  // interface{} universe (query.Nothing / query.Delete markers).

  case object VNothing
  case object VDelete
  final case class VBytes(bytes: Array[Byte]) {
    def str: String = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }
  final class BloblangError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new BloblangError(msg)

  // --------------------------------------------------------------- AST --
  private[blob] sealed trait Expr extends Serializable
  private[blob] case class Lit(v: Any) extends Expr
  private[blob] case class ArrLit(items: Vector[Expr]) extends Expr
  private[blob] case class ObjLit(fields: Vector[(String, Expr)]) extends Expr
  private[blob] case object ThisRef extends Expr
  private[blob] case class NameRef(name: String) extends Expr // naked path head: var else ctx field
  private[blob] case class VarRef(name: String) extends Expr // $name
  private[blob] case class FieldGet(target: Expr, name: String) extends Expr
  private[blob] case class MethodCall(target: Expr, name: String, args: Vector[Expr]) extends Expr
  private[blob] case class FuncCall(name: String, args: Vector[Expr]) extends Expr
  private[blob] case class Lambda(param: String, body: Expr) extends Expr
  private[blob] case class UnOp(op: String, e: Expr) extends Expr
  private[blob] case class BinOp(op: String, l: Expr, r: Expr) extends Expr
  private[blob] case class IfExpr(branches: Vector[(Expr, Expr)], els: Option[Expr]) extends Expr
  private[blob] case class MatchExpr(target: Option[Expr], cases: Vector[(Option[Expr], Expr)]) extends Expr

  private[blob] sealed trait Stmt extends Serializable { def line: Int }
  private[blob] case class Assign(path: Vector[String], e: Expr, line: Int) extends Stmt // empty = root
  private[blob] case class LetStmt(name: String, e: Expr, line: Int) extends Stmt
  private[blob] case class MetaStmt(key: Option[String], e: Expr, line: Int) extends Stmt // None = whole-metadata assignment
  private[blob] case class MapDef(name: String, stmts: Vector[Stmt], line: Int) extends Stmt

  // ------------------------------------------------------------- lexer --
  private sealed trait Tok
  private case class TIdent(s: String) extends Tok
  private case class TNum(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TPunc(s: String) extends Tok
  private case object TEOF extends Tok

  /** Tokens with 1-based source lines (the reference reports assignment
    * failures as `failed assignment (line N): …` — executor.go:178-191 —
    * and the corpus asserts those messages verbatim).
    */
  private def lex(src: String): (Vector[Tok], Vector[Int]) = {
    val out = Vector.newBuilder[Tok]
    val lines = Vector.newBuilder[Int]
    var line = 1
    def emit(t: Tok): Unit = { out += t; lines += line }
    var i = 0
    val n = src.length
    def isIdentStart(c: Char) = c.isLetter || c == '_'
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      val c = src.charAt(i)
      if (c == '\n') { line += 1; i += 1 }
      else if (c.isWhitespace) i += 1
      else if (c == '#') { while (i < n && src.charAt(i) != '\n') i += 1 }
      else if (isIdentStart(c)) {
        val s = i; while (i < n && isIdent(src.charAt(i))) i += 1
        emit(TIdent(src.substring(s, i)))
      } else if (c.isDigit) {
        val s = i
        // a '.' only continues the number when a digit follows — `this.0.keys()`
        // is path syntax, not the float "0."
        while (i < n && (src.charAt(i).isDigit ||
            (src.charAt(i) == '.' && i + 1 < n && src.charAt(i + 1).isDigit))) i += 1
        if (i < n && (src.charAt(i) == 'e' || src.charAt(i) == 'E')) {
          i += 1; if (i < n && (src.charAt(i) == '+' || src.charAt(i) == '-')) i += 1
          while (i < n && src.charAt(i).isDigit) i += 1
        }
        val numText = src.substring(s, i)
        // digit-leading identifiers: `this.analytics.install.30d.benthos`
        // (track_benthos_downloads.yaml) — a digit run flowing straight
        // into ident chars is a path segment, not a number (was a syntax
        // error before, so nothing legal changes meaning)
        if (i < n && isIdent(src.charAt(i)) && !numText.contains('.')) {
          while (i < n && isIdent(src.charAt(i))) i += 1
          emit(TIdent(src.substring(s, i)))
        } else emit(TNum(numText))
      } else if (c == '"') {
        val b = new StringBuilder; i += 1
        while (i < n && src.charAt(i) != '"') {
          val ch = src.charAt(i)
          if (ch == '\n') line += 1
          if (ch == '\\' && i + 1 < n) {
            src.charAt(i + 1) match {
              case 'n' => b.append('\n'); i += 2
              case 't' => b.append('\t'); i += 2
              case 'r' => b.append('\r'); i += 2
              case '\\' => b.append('\\'); i += 2
              case '"' => b.append('"'); i += 2
              case '/' => b.append('/'); i += 2
              case 'u' if i + 5 < n =>
                b.append(Integer.parseInt(src.substring(i + 2, i + 6), 16).toChar); i += 6
              case o => b.append(o); i += 2
            }
          } else { b.append(ch); i += 1 }
        }
        if (i >= n) fail("unterminated string literal")
        i += 1
        emit(TStr(b.toString))
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        two match {
          case "==" | "!=" | ">=" | "<=" | "&&" | "||" | "->" | "=>" =>
            emit(TPunc(two)); i += 2
          case _ =>
            if ("(){}[],.:$=<>+-*/%!|".indexOf(c) >= 0) { emit(TPunc(c.toString)); i += 1 }
            else fail(s"unexpected character '$c' at offset $i")
        }
      }
    }
    emit(TEOF)
    (out.result(), lines.result())
  }

  // ------------------------------------------------------------ parser --
  private final class Parser(toks: Vector[Tok], tokLines: Vector[Int]) {
    private var pos = 0
    private def curLine: Int = tokLines(math.min(pos, tokLines.length - 1))
    private def peek: Tok = toks(pos)
    private def peek2: Tok = if (pos + 1 < toks.length) toks(pos + 1) else TEOF
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def expect(p: String): Unit = next() match {
      case TPunc(`p`) => ()
      case t => fail(s"expected '$p', got $t")
    }
    private def isPunc(p: String): Boolean = peek == TPunc(p)

    def program(): Vector[Stmt] = {
      val out = Vector.newBuilder[Stmt]
      while (peek != TEOF) out += stmt()
      out.result()
    }

    private def stmt(): Stmt = {
      val ln = curLine
      peek match {
        case TIdent("let") =>
          next()
          val name = next() match {
            case TIdent(s) => s; case TStr(s) => s; case t => fail(s"let: expected name, got $t")
          }
          expect("="); LetStmt(name, expr(), ln)
        case TIdent("meta") if peek2 == TPunc("=") =>
          // `meta = deleted()` clears all metadata; `meta = {...}` replaces it
          next(); expect("="); MetaStmt(None, expr(), ln)
        case TIdent("meta") if peek2 != TPunc("(") =>
          next()
          val key = next() match {
            case TIdent(s) => s; case TStr(s) => s; case t => fail(s"meta: expected key, got $t")
          }
          expect("="); MetaStmt(Some(key), expr(), ln)
        case TIdent("map") if peek2.isInstanceOf[TIdent] || peek2.isInstanceOf[TStr] =>
          next()
          val name = next() match { case TIdent(s) => s; case TStr(s) => s; case t => fail(s"$t") }
          expect("{")
          val body = Vector.newBuilder[Stmt]
          while (!isPunc("}")) body += stmt()
          expect("}")
          MapDef(name, body.result(), ln)
        case TIdent(_) if assignmentAhead() =>
          val TIdent(head) = next(): @unchecked
          val segs = Vector.newBuilder[String]
          if (head != "root") segs += head
          while (isPunc(".")) {
            next()
            next() match {
              case TIdent(s) => segs += s
              case TNum(s) => segs += s
              case TStr(s) => segs += s
              case t => fail(s"assignment path: unexpected $t")
            }
          }
          expect("=")
          Assign(segs.result(), expr(), ln)
        case _ =>
          // a bare query is a valid mapping meaning `root = <query>` — the
          // form `benthos blobl 'this.foo'` and the test runner's bloblang
          // predicate conditions use
          Assign(Vector.empty, expr(), ln)
      }
    }

    /** Lookahead: ident ('.' (ident|num|str))* '=' — an assignment target
      * (without consuming), distinguishing `ands = …` from the bare query
      * `error() == …`.
      */
    private def assignmentAhead(): Boolean = {
      var p = pos
      def tok(i: Int): Tok = if (i < toks.length) toks(i) else TEOF
      if (!tok(p).isInstanceOf[TIdent]) return false
      p += 1
      while (tok(p) == TPunc(".")) {
        tok(p + 1) match {
          case TIdent(_) | TNum(_) | TStr(_) => p += 2
          case _ => return false
        }
      }
      tok(p) == TPunc("=")
    }

    def expr(): Expr = pipe()

    private def pipe(): Expr = {
      var l = orE()
      while (isPunc("|")) { next(); l = BinOp("|", l, orE()) }
      l
    }
    private def orE(): Expr = {
      var l = andE()
      while (isPunc("||")) { next(); l = BinOp("||", l, andE()) }
      l
    }
    private def andE(): Expr = {
      var l = eqE()
      while (isPunc("&&")) { next(); l = BinOp("&&", l, eqE()) }
      l
    }
    private def eqE(): Expr = {
      var l = relE()
      while (isPunc("==") || isPunc("!=")) {
        val TPunc(op) = next(): @unchecked; l = BinOp(op, l, relE())
      }
      l
    }
    private def relE(): Expr = {
      var l = addE()
      while (isPunc("<") || isPunc(">") || isPunc("<=") || isPunc(">=")) {
        val TPunc(op) = next(): @unchecked; l = BinOp(op, l, addE())
      }
      l
    }
    private def addE(): Expr = {
      var l = mulE()
      while (isPunc("+") || isPunc("-")) {
        val TPunc(op) = next(): @unchecked; l = BinOp(op, l, mulE())
      }
      l
    }
    private def mulE(): Expr = {
      var l = unaryE()
      while (isPunc("*") || isPunc("/") || isPunc("%")) {
        val TPunc(op) = next(): @unchecked; l = BinOp(op, l, unaryE())
      }
      l
    }
    private def unaryE(): Expr = peek match {
      case TPunc("!") => next(); UnOp("!", unaryE())
      case TPunc("-") => next(); UnOp("-", unaryE())
      case _ => postfix()
    }

    private def postfix(): Expr = {
      var e = primary()
      while (isPunc(".")) {
        next()
        next() match {
          case TIdent(name) =>
            if (isPunc("(")) e = MethodCall(e, name, callArgs())
            else e = FieldGet(e, name)
          case TNum(s) => e = FieldGet(e, s)
          case TStr(s) => e = FieldGet(e, s)
          case t => fail(s"after '.': unexpected $t")
        }
      }
      e
    }

    private def callArgs(): Vector[Expr] = {
      expect("(")
      val out = Vector.newBuilder[Expr]
      while (!isPunc(")")) {
        // lambda argument: IDENT ->
        (peek, peek2) match {
          case (TIdent(p), TPunc("->")) => next(); next(); out += Lambda(p, expr())
          case _ => out += expr()
        }
        if (isPunc(",")) next()
      }
      expect(")")
      out.result()
    }

    private def primary(): Expr = peek match {
      case TNum(s) =>
        next()
        if (s.contains('.') || s.contains('e') || s.contains('E')) Lit(s.toDouble)
        else Lit(s.toLong)
      case TStr(s) => next(); Lit(s)
      case TPunc("(") => next(); val e = expr(); expect(")"); e
      case TPunc("[") =>
        next()
        val items = Vector.newBuilder[Expr]
        while (!isPunc("]")) { items += expr(); if (isPunc(",")) next() }
        expect("]")
        ArrLit(items.result())
      case TPunc("{") =>
        next()
        val fields = Vector.newBuilder[(String, Expr)]
        while (!isPunc("}")) {
          val k = next() match {
            case TStr(s) => s; case TIdent(s) => s; case t => fail(s"object key: $t")
          }
          expect(":")
          fields += ((k, expr()))
          if (isPunc(",")) next()
        }
        expect("}")
        ObjLit(fields.result())
      case TPunc("$") =>
        next()
        next() match { case TIdent(s) => VarRef(s); case t => fail(s"after '$$': $t") }
      case TIdent("this") => next(); ThisRef
      case TIdent("true") => next(); Lit(true)
      case TIdent("false") => next(); Lit(false)
      case TIdent("null") => next(); Lit(null)
      case TIdent("if") =>
        next()
        val branches = Vector.newBuilder[(Expr, Expr)]
        val c0 = expr(); expect("{"); val r0 = expr(); expect("}")
        branches += ((c0, r0))
        var els: Option[Expr] = None
        var done = false
        while (!done && peek == TIdent("else")) {
          next()
          if (peek == TIdent("if")) {
            next(); val c = expr(); expect("{"); val r = expr(); expect("}")
            branches += ((c, r))
          } else { expect("{"); els = Some(expr()); expect("}"); done = true }
        }
        IfExpr(branches.result(), els)
      case TIdent("match") =>
        next()
        val target = if (isPunc("{")) None else Some(expr())
        expect("{")
        val cases = Vector.newBuilder[(Option[Expr], Expr)]
        while (!isPunc("}")) {
          val cond =
            if (peek == TIdent("_") && peek2 == TPunc("=>")) { next(); None }
            else Some(expr())
          expect("=>")
          cases += ((cond, expr()))
          if (isPunc(",")) next()
        }
        expect("}")
        MatchExpr(target, cases.result())
      case TIdent(name) =>
        next()
        if (isPunc("(")) {
          if (UnsupportedFns(name))
            fail(s"function '$name' is not supported in this engine (batch context " +
              "belongs to window operators; nondeterministic generators have no oracle)")
          if (!KnownFns(name)) fail(s"unrecognised function '$name'")
          FuncCall(name, callArgs())
        } else NameRef(name)
      case t => fail(s"unexpected token $t")
    }
  }

  private val KnownFns =
    Set("content", "deleted", "env", "meta", "json", "throw", "range", "error", "errored")
  private val UnsupportedFns =
    Set("batch_index", "batch_size", "count", "uuid_v4", "nanoid", "ksuid", "now",
      "timestamp_unix", "timestamp_unix_nano", "random_int", "hostname")

  // --------------------------------------------------------- evaluator --
  /** Per-message evaluation environment. `ctx` is `this`; the top level
    * binds it to a lazy thunk so non-JSON content only errors when the
    * document is actually referenced (executor.go:140-153 lazyValue).
    */
  private final class Env(
      val lazyDoc: () => Any,
      val content: Array[Byte],
      var ctx: AnyRef, // Lazy marker or concrete value (boxed)
      val vars: mutable.Map[String, Any],
      val meta: mutable.LinkedHashMap[String, String],
      val envFn: String => Option[String],
      val maps: Map[String, Vector[Stmt]],
      var depth: Int,
      val errorMsg: String) { // incoming error flag (the reference's error())
    // lambda params currently in scope: the only names resolvable naked —
    // `let` bindings require `$name` (naked idents are this-paths)
    val lamNames: mutable.Set[String] = mutable.Set.empty
  }

  private case object LazyThis

  private def ctxValue(env: Env): Any =
    if (env.ctx.asInstanceOf[AnyRef] eq LazyThis) env.lazyDoc() else unbox(env.ctx)
  private def box(v: Any): AnyRef = v.asInstanceOf[AnyRef]
  private def unbox(v: AnyRef): Any = v

  private def eval(e: Expr, env: Env): Any = e match {
    case Lit(v) => v
    case ThisRef => ctxValue(env)
    case NameRef(name) =>
      if (env.lamNames.contains(name) && env.vars.contains(name)) env.vars(name)
      else fieldOf(ctxValue(env), name)
    case VarRef(name) =>
      env.vars.getOrElse(name, fail(s"variable $$${name} is not defined"))
    case FieldGet(t, name) => fieldOf(eval(t, env), name)
    case ArrLit(items) =>
      items.map(i => eval(i, env)).filter(v => v != VNothing && v != VDelete)
    case ObjLit(fields) =>
      fields.foldLeft(Map.empty[String, Any]) { case (acc, (k, ve)) =>
        eval(ve, env) match {
          case VNothing | VDelete => acc // omitted fields (literals.yaml)
          case v => acc + (k -> v)
        }
      }
    case UnOp("!", x) => eval(x, env) match {
      case b: Boolean => !b
      case v => fail(s"expected bool, got ${typeName(v)}")
    }
    case UnOp("-", x) => eval(x, env) match {
      case l: Long => -l
      case d: Double => -d
      case v => fail(s"expected number, got ${typeName(v)}")
    }
    case UnOp(op, _) => fail(s"unknown unary operator $op")
    case BinOp(op, l, r) => binOp(op, l, r, env)
    case IfExpr(branches, els) =>
      branches.find { case (c, _) => truthy(eval(c, env)) } match {
        case Some((_, res)) => eval(res, env)
        case None => els.map(eval(_, env)).getOrElse(VNothing)
      }
    case MatchExpr(targetE, cases) =>
      val target = targetE.map(eval(_, env)).getOrElse(ctxValue(env))
      val saved = env.ctx
      env.ctx = box(target)
      try {
        cases.iterator
          .find {
            case (None, _) => true
            case (Some(c), _) => eval(c, env) match {
              case b: Boolean => b
              case v => valueEq(v, target)
            }
          }
          .map { case (_, res) => eval(res, env) }
          .getOrElse(VNothing)
      } finally env.ctx = saved
    case FuncCall(name, args) => callFn(name, args, env)
    case MethodCall(t, name, args) => callMethod(t, name, args, env)
    case Lambda(_, _) => fail("lambda used outside a method argument")
  }

  private def truthy(v: Any): Boolean = v match {
    case b: Boolean => b
    case other => fail(s"expected bool condition, got ${typeName(other)}")
  }

  private def fieldOf(target: Any, name: String): Any = target match {
    case null | VNothing => null
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].getOrElse(name, null)
    case a: Vector[_] =>
      if (name.forall(_.isDigit)) {
        val i = name.toInt
        if (i >= 0 && i < a.length) a(i) else null
      } else fail(s"expected object value, got array from field `$name`")
    case other => fail(s"expected object value, got ${typeName(other)} from field `$name`")
  }

  private def typeName(v: Any): String = v match {
    case null => "null"
    case _: String => "string"
    case _: VBytes => "bytes"
    case _: Long | _: Double | _: Int => "number"
    case _: Boolean => "bool"
    case _: Vector[_] => "array"
    case _: Map[_, _] => "object"
    case VNothing => "nothing"
    case VDelete => "delete"
    case other => other.getClass.getSimpleName
  }

  private def binOp(op: String, le: Expr, re: Expr, env: Env): Any = op match {
    case "|" =>
      // pipe: attempt the left; on error or null fall back to the right
      val l = try eval(le, env) catch { case _: BloblangError => null }
      if (l == null || l == VNothing) eval(re, env) else l
    case "&&" =>
      eval(le, env) match {
        case false => false
        case true => eval(re, env) match {
          case b: Boolean => b
          case v => fail(s"expected bool, got ${typeName(v)}")
        }
        case v => fail(s"expected bool, got ${typeName(v)}")
      }
    case "||" =>
      eval(le, env) match {
        case true => true
        case false => eval(re, env) match {
          case b: Boolean => b
          case v => fail(s"expected bool, got ${typeName(v)}")
        }
        case v => fail(s"expected bool, got ${typeName(v)}")
      }
    case _ =>
      val l = eval(le, env); val r = eval(re, env)
      op match {
        case "==" => valueEq(l, r)
        case "!=" => !valueEq(l, r)
        case "<" | ">" | "<=" | ">=" =>
          val c = compareVals(l, r)
          op match {
            case "<" => c < 0; case ">" => c > 0; case "<=" => c <= 0; case _ => c >= 0
          }
        case "+" => (l, r) match {
          case (a: String, b) => a + goString(b)
          case (a, b: String) => goString(a) + b
          case (a: VBytes, b) => a.str + goString(b)
          case (a, b: VBytes) => goString(a) + b.str
          case (a: Long, b: Long) => a + b
          case _ => numOf(l, "+") + numOf(r, "+")
        }
        case "-" => (l, r) match {
          case (a: Long, b: Long) => a - b
          case _ => numOf(l, "-") - numOf(r, "-")
        }
        case "*" => (l, r) match {
          case (a: Long, b: Long) => a * b
          case _ => numOf(l, "*") * numOf(r, "*")
        }
        case "/" => numOf(l, "/") / numOf(r, "/")
        case "%" => (l, r) match {
          case (a: Long, b: Long) => if (b == 0) fail("modulo by zero") else a % b
          case _ => fail("modulo requires integer operands")
        }
        case other => fail(s"unknown operator $other")
      }
  }

  private def numOf(v: Any, op: String): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
    case i: Int => i.toDouble
    case other => fail(s"cannot $op ${typeName(other)}")
  }

  private def valueEq(l: Any, r: Any): Boolean = (l, r) match {
    case (a: Long, b: Double) => a.toDouble == b
    case (a: Double, b: Long) => a == b.toDouble
    case (a: VBytes, b: String) => a.str == b
    case (a: String, b: VBytes) => a == b.str
    case (a: VBytes, b: VBytes) => a.str == b.str
    case (a, b) => a == b
  }

  private def compareVals(l: Any, r: Any): Int = (l, r) match {
    case (a: Long, b: Long) => java.lang.Long.compare(a, b)
    case (a: String, b: String) => a.compareTo(b)
    case _ => java.lang.Double.compare(numOf(l, "compare"), numOf(r, "compare"))
  }

  // ------------------------------------------------------ serialization --
  /** Go-marshal-shaped JSON: compact, object keys sorted bytewise,
    * integral doubles printed as integers (Go's float64 shortest form).
    */
  def goJson(v: Any): String = { val b = new StringBuilder(64); writeJson(v, b); b.toString }

  private def writeJson(v: Any, b: StringBuilder): Unit = v match {
    case null | VNothing | VDelete => b.append("null")
    case s: String => writeQuoted(s, b)
    case by: VBytes => writeQuoted(by.str, b)
    case l: Long => b.append(l)
    case i: Int => b.append(i)
    case d: Double =>
      // Go's json.Marshal rejects non-finite floats — the mapping errors
      // rather than emitting invalid JSON (encoding/json: unsupported value)
      if (d.isNaN || d.isInfinite) fail(s"unable to marshal JSON: unsupported value: $d")
      else if (d.isWhole && math.abs(d) < (1L << 53)) b.append(d.toLong)
      else b.append(d)
    case bl: Boolean => b.append(bl)
    case a: Vector[_] =>
      b.append('[')
      var first = true
      a.foreach { x => if (!first) b.append(','); first = false; writeJson(x, b) }
      b.append(']')
    case m: Map[_, _] =>
      b.append('{')
      var first = true
      m.asInstanceOf[Map[String, Any]].keys.toSeq.sorted.foreach { k =>
        if (!first) b.append(','); first = false
        writeQuoted(k, b); b.append(':')
        writeJson(m.asInstanceOf[Map[String, Any]](k), b)
      }
      b.append('}')
    case other => fail(s"cannot serialize ${typeName(other)}")
  }

  private def writeQuoted(s: String, b: StringBuilder): Unit = {
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"')
  }

  /** Go fmt / string() coercion: numbers in marshal form, bools, raw
    * strings/bytes, JSON for containers.
    */
  def goString(v: Any): String = v match {
    case null => "null"
    case s: String => s
    case by: VBytes => by.str
    case l: Long => l.toString
    case d: Double => if (d.isWhole && math.abs(d) < (1L << 53)) d.toLong.toString else d.toString
    case b: Boolean => b.toString
    case _ => goJson(v)
  }

  // -------------------------------------------------------- functions --
  private def callFn(name: String, args: Vector[Expr], env: Env): Any = {
    def arg(i: Int): Any = eval(args(i), env)
    name match {
      case "content" => VBytes(env.content)
      case "deleted" => VDelete
      case "env" => env.envFn(goString(arg(0))).orNull
      case "meta" =>
        if (args.isEmpty) env.meta.toMap: Map[String, Any]
        else env.meta.get(goString(arg(0))).orNull
      case "json" =>
        val doc = env.lazyDoc()
        if (args.isEmpty) doc
        else goString(arg(0)).split('.').foldLeft(doc)((acc, seg) => fieldOf(acc, seg))
      case "throw" => fail(goString(arg(0)))
      case "error" => env.errorMsg // null when the message carries no error
      case "errored" => env.errorMsg != null
      case "range" =>
        val start = longOf(arg(0)); val stop = longOf(arg(1))
        val step = if (args.length > 2) longOf(arg(2)) else 1L
        if (step == 0) fail("range step must be non-zero")
        Vector.iterate(start, math.max(0L, ((stop - start) + step - (if (step > 0) 1 else -1)) / step).toInt)(_ + step)
      case other => fail(s"unrecognised function '$other'")
    }
  }

  private def longOf(v: Any): Long = v match {
    case l: Long => l
    case d: Double if d.isWhole => d.toLong
    case other => fail(s"expected integer, got ${typeName(other)}")
  }

  // ---------------------------------------------------------- methods --
  /** Evaluate a method argument that is a per-element query: a lambda
    * binds its param as a variable AND becomes the context; a bare query
    * (`map_each(this.trim())`, `map_each(match {...})`) just rebinds
    * context (the reference's context capture).
    */
  private def applyElem(fn: Expr, elem: Any, env: Env): Any = {
    val saved = env.ctx
    env.ctx = box(elem)
    try fn match {
      case Lambda(param, body) =>
        val had = env.vars.get(param)
        val wasLam = env.lamNames.contains(param)
        env.vars(param) = elem
        env.lamNames += param
        try eval(body, env)
        finally {
          had match {
            case Some(v) => env.vars(param) = v
            case None => env.vars.remove(param): Unit
          }
          if (!wasLam) env.lamNames -= param
        }
      case q => eval(q, env)
    } finally env.ctx = saved
  }

  private def strKind(target: Any, s: String): Any = target match {
    case _: VBytes => VBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => s
  }

  private def strOf(v: Any, m: String): String = v match {
    case s: String => s
    case b: VBytes => b.str
    case other => fail(s"$m: expected string, got ${typeName(other)}")
  }

  private def arrOf(v: Any, m: String): Vector[Any] = v match {
    case a: Vector[_] => a.asInstanceOf[Vector[Any]]
    case other => fail(s"$m: expected array value, got ${typeName(other)}")
  }

  private def objOf(v: Any, m: String): Map[String, Any] = v match {
    case o: Map[_, _] => o.asInstanceOf[Map[String, Any]]
    case other => fail(s"expected object value, got ${typeName(other)} from $m")
  }

  private def callMethod(targetE: Expr, name: String, args: Vector[Expr], env: Env): Any = {
    // error-flow methods evaluate their target themselves
    name match {
      case "catch" =>
        return (try eval(targetE, env)
        catch {
          case err: BloblangError => args(0) match {
            // lambda form receives the error message; plain form evaluates
            // with the surrounding context untouched (no doc force)
            case Lambda(p, body) =>
              val had = env.vars.get(p)
              val wasLam = env.lamNames.contains(p)
              env.vars(p) = err.getMessage
              env.lamNames += p
              try eval(body, env)
              finally {
                had match {
                  case Some(v) => env.vars(p) = v
                  case None => env.vars.remove(p): Unit
                }
                if (!wasLam) env.lamNames -= p
              }
            case q => eval(q, env)
          }
        })
      case "or" =>
        val l = try eval(targetE, env) catch { case _: BloblangError => null }
        return (if (l == null || l == VNothing) eval(args(0), env) else l)
      case _ => ()
    }
    val target = eval(targetE, env)
    def arg(i: Int): Any = eval(args(i), env)
    name match {
      case "apply" =>
        val mapName = goString(arg(0))
        val stmts = env.maps.getOrElse(mapName, fail(s"map '$mapName' was not found"))
        if (env.depth > 256) fail(s"map '$mapName' exceeded maximum recursion depth")
        env.depth += 1
        try execMap(stmts, target, env)
        finally env.depth -= 1
      case "type" => typeName(target)
      case "string" => strKindPreservingString(target)
      case "bytes" => VBytes(goString(target).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case "number" =>
        target match {
          case l: Long => l
          case d: Double => d
          case s: String => parseNum(s, args, env)
          case b: VBytes => parseNum(b.str, args, env)
          case other =>
            if (args.nonEmpty) arg(0) else fail(s"number: cannot convert ${typeName(other)}")
        }
      case "bool" =>
        target match {
          case b: Boolean => b
          case s: String if s == "true" => true
          case s: String if s == "false" => false
          case other => if (args.nonEmpty) arg(0) else fail(s"bool: cannot convert ${typeName(other)}")
        }
      case "not" => target match {
        case b: Boolean => !b
        case v => fail(s"not: expected bool, got ${typeName(v)}")
      }
      case "length" => target match {
        case s: String => s.length.toLong
        case b: VBytes => b.bytes.length.toLong
        case a: Vector[_] => a.length.toLong
        case m: Map[_, _] => m.size.toLong
        case null => fail("length: expected string/array/object, got null")
        case other => fail(s"length: unsupported ${typeName(other)}")
      }
      case "format" =>
        // Go fmt verbs %v %s %d %f (and %%) — the subset the corpus uses
        val fmt = strOf(target, "format")
        val out = new StringBuilder
        var ai = 0; var i = 0
        while (i < fmt.length) {
          val c = fmt.charAt(i)
          if (c == '%' && i + 1 < fmt.length) {
            fmt.charAt(i + 1) match {
              case '%' => out.append('%'); i += 2
              case 'v' | 's' => out.append(goString(arg(ai))); ai += 1; i += 2
              case 'd' => out.append(longOf(arg(ai))); ai += 1; i += 2
              case 'f' => out.append(numOf(arg(ai), "format")); ai += 1; i += 2
              case o => out.append(c).append(o); i += 2
            }
          } else { out.append(c); i += 1 }
        }
        out.toString

      // ---- strings (kind-preserving where the reference is)
      case "uppercase" => strKind(target, strOf(target, name).toUpperCase)
      case "lowercase" => strKind(target, strOf(target, name).toLowerCase)
      case "capitalize" =>
        val s = strOf(target, name)
        strKind(target, if (s.isEmpty) s else s"${s.charAt(0).toUpper}${s.substring(1)}")
      case "trim" =>
        val s = strOf(target, name)
        // no cutset: Go strings.TrimSpace, i.e. the unicode.IsSpace set
        val cut = (if (args.isEmpty) Blob.goSpace else goString(arg(0))).toSet
        strKind(target, s.dropWhile(cut).reverse.dropWhile(cut).reverse)
      case "trim_prefix" =>
        val s = strOf(target, name); val p = goString(arg(0))
        strKind(target, if (s.startsWith(p)) s.substring(p.length) else s)
      case "trim_suffix" =>
        val s = strOf(target, name); val p = goString(arg(0))
        strKind(target, if (s.endsWith(p)) s.substring(0, s.length - p.length) else s)
      case "has_prefix" => strOf(target, name).startsWith(goString(arg(0)))
      case "has_suffix" => strOf(target, name).endsWith(goString(arg(0)))
      case "contains" => target match {
        case s: String => s.contains(goString(arg(0)))
        case b: VBytes => b.str.contains(goString(arg(0)))
        case a: Vector[_] => a.exists(x => valueEq(x, arg(0)))
        case other => fail(s"contains: expected string or array, got ${typeName(other)}")
      }
      case "split" =>
        val s = strOf(target, name); val sep = goString(arg(0))
        // -1 limit: trailing empty fields kept (Go strings.Split)
        s.split(java.util.regex.Pattern.quote(sep), -1).toVector: Vector[Any]
      case "join" =>
        val sep = if (args.isEmpty) "" else goString(arg(0))
        arrOf(target, name).map {
          case s: String => s
          case b: VBytes => b.str
          case other => fail(s"join: expected string elements, got ${typeName(other)}")
        }.mkString(sep)
      case "replace_all" =>
        strKind(target, strOf(target, name).replace(goString(arg(0)), goString(arg(1))))
      case "re_replace_all" =>
        strKind(target,
          java.util.regex.Pattern.compile(goString(arg(0)))
            .matcher(strOf(target, name)).replaceAll(goString(arg(1))))
      case "re_match" =>
        java.util.regex.Pattern.compile(goString(arg(0))).matcher(strOf(target, name)).find()
      case "slice" =>
        val from = longOf(arg(0)).toInt
        target match {
          case a: Vector[_] =>
            val hi = if (args.length > 1) longOf(arg(1)).toInt else a.length
            a.slice(if (from < 0) a.length + from else from, if (hi < 0) a.length + hi else hi)
          case _ =>
            val s = strOf(target, name)
            val hi = if (args.length > 1) longOf(arg(1)).toInt else s.length
            strKind(target,
              s.substring(math.max(0, if (from < 0) s.length + from else from),
                math.min(s.length, if (hi < 0) s.length + hi else hi)))
        }
      case "quote" => goJson(goString(target))
      case "unquote" =>
        val s = strOf(target, name)
        if (s.length >= 2 && s.head == '"' && s.last == '"') {
          val b = new StringBuilder; var i = 1
          while (i < s.length - 1) {
            if (s.charAt(i) == '\\' && i + 1 < s.length - 1) {
              s.charAt(i + 1) match {
                case 'n' => b.append('\n'); case 't' => b.append('\t')
                case 'r' => b.append('\r'); case o => b.append(o)
              }
              i += 2
            } else { b.append(s.charAt(i)); i += 1 }
          }
          b.toString
        } else fail("unquote: not a quoted string")
      case "parse_json" =>
        try parseStrictJson(strOf(target, name).getBytes("UTF-8"))
        catch {
          case e: BloblangError => throw e
          case scala.util.control.NonFatal(e) => fail(s"parse_json: ${e.getMessage}")
        }
      case "format_json" => goJson(target)
      case "reverse" => target match {
        case a: Vector[_] => a.reverse
        case _ => strKind(target, strOf(target, name).reverse)
      }
      case "unescape_html" => strKind(target, unescapeHtml(strOf(target, name)))
      case "escape_html" => strKind(target, strOf(target, name)
        .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("\"", "&#34;").replace("'", "&#39;"))

      // ---- numbers
      case "floor" => math.floor(numOf(target, name)).toLong
      case "ceil" => math.ceil(numOf(target, name)).toLong
      // Go math.Round: half away from zero (methods_numbers.go:224 —
      // round(-2.5) = -3); scala math.round is floor(x+0.5) which gives
      // -2 there, so spell the away-from-zero form out
      case "round" =>
        val v = numOf(target, name)
        math.copySign(math.floor(math.abs(v) + 0.5), v).toLong
      case "abs" => target match {
        case l: Long => math.abs(l)
        case _ => math.abs(numOf(target, name))
      }
      case "min" => arrOf(target, name).reduceLeft((a, b) => if (compareVals(a, b) <= 0) a else b)
      case "max" => arrOf(target, name).reduceLeft((a, b) => if (compareVals(a, b) >= 0) a else b)

      // ---- arrays / objects
      case "map_each" => target match {
        case a: Vector[_] =>
          a.asInstanceOf[Vector[Any]]
            .map(x => applyElem(args(0), x, env))
            .filter(v => v != VDelete && v != VNothing)
        case o: Map[_, _] =>
          // object form: context per entry is {key, value}; the query result
          // replaces the VALUE; deleted() removes the key
          o.asInstanceOf[Map[String, Any]].foldLeft(Map.empty[String, Any]) {
            case (acc, (k, v)) =>
              applyElem(args(0), Map("key" -> k, "value" -> v), env) match {
                case VDelete | VNothing => acc
                case nv => acc + (k -> nv)
              }
          }
        case other => fail(s"map_each: expected array or object, got ${typeName(other)}")
      }
      case "filter" =>
        arrOf(target, name).filter { x =>
          applyElem(args(0), x, env) match {
            case b: Boolean => b
            case v => fail(s"filter: expected bool, got ${typeName(v)}")
          }
        }
      case "sort" =>
        val a = arrOf(target, name)
        if (args.isEmpty) a.sortWith((x, y) => compareVals(x, y) < 0)
        else a.sortWith { (x, y) =>
          applyElem(args(0), Map("left" -> x, "right" -> y), env) match {
            case b: Boolean => b
            case v => fail(s"sort: expected bool, got ${typeName(v)}")
          }
        }
      case "sort_by" =>
        arrOf(target, name)
          .map(x => (applyElem(args(0), x, env), x))
          .sortWith((p, q) => compareVals(p._1, q._1) < 0)
          .map(_._2)
      case "flatten" =>
        arrOf(target, name).flatMap {
          case inner: Vector[_] => inner
          case x => Vector(x)
        }
      case "sum" =>
        val a = arrOf(target, name)
        if (a.forall(_.isInstanceOf[Long])) a.map(_.asInstanceOf[Long]).sum
        else a.map(numOf(_, name)).sum
      case "unique" =>
        val seen = mutable.LinkedHashSet[Any]()
        arrOf(target, name).foreach(seen.add)
        seen.toVector
      case "enumerated" =>
        arrOf(target, name).zipWithIndex.map { case (v, i) =>
          Map("index" -> i.toLong, "value" -> v): Any
        }
      case "index" =>
        val a = arrOf(target, name); val i = longOf(arg(0))
        val j = if (i < 0) a.length + i else i
        if (j >= 0 && j < a.length) a(j.toInt) else null
      case "append" => arrOf(target, name) ++ args.map(arg => eval(arg, env))
      case "concat" => arrOf(target, name) ++ args.flatMap(a => arrOf(eval(a, env), name))
      case "first" => arrOf(target, name).headOption.orNull
      case "last" => arrOf(target, name).lastOption.orNull
      case "keys" => objOf(target, s"field `${exprLabel(targetE)}`").keys.toVector.sorted: Vector[Any]
      case "values" =>
        val o = objOf(target, name); o.keys.toVector.sorted.map(o): Vector[Any]
      case "key_values" =>
        val o = objOf(target, name)
        o.keys.toVector.sorted.map(k => Map("key" -> k, "value" -> o(k)): Any)
      case "without" =>
        val drop = args.map(a => goString(eval(a, env))).toSet
        objOf(target, name).filter { case (k, _) => !drop(k) }
      case "merge" =>
        mergeVals(target, arg(0))
      case "get" =>
        goString(arg(0)).split('.').foldLeft(target)((acc, seg) => fieldOf(acc, seg))
      case "exists" =>
        goString(arg(0)).split('.').foldLeft(target)((acc, seg) =>
          try fieldOf(acc, seg) catch { case _: BloblangError => null }) != null
      case other => fail(s"unrecognised method '$other'")
    }
  }

  private def exprLabel(e: Expr): String = e match {
    case ThisRef => "this"
    case NameRef(n) => n
    case FieldGet(t, n) => s"${exprLabel(t)}.$n"
    case _ => "expression"
  }

  private def strKindPreservingString(v: Any): Any = v match {
    case s: String => s
    case b: VBytes => b.str
    case other => goString(other)
  }

  private def parseNum(s: String, args: Vector[Expr], env: Env): Any = {
    val t = s.trim
    try { if (t.matches("-?\\d+")) t.toLong else t.toDouble }
    catch {
      case _: NumberFormatException =>
        if (args.nonEmpty) eval(args(0), env) else fail(s"number: cannot parse '$s'")
    }
  }

  /** gabs-shaped merge (the reference's .merge): objects merge
    * recursively; a collision of two non-object values combines them into
    * an array (Go gabs.Merge).
    */
  private def mergeVals(l: Any, r: Any): Any = (l, r) match {
    case (a: Map[_, _], b: Map[_, _]) =>
      val am = a.asInstanceOf[Map[String, Any]]
      val bm = b.asInstanceOf[Map[String, Any]]
      bm.foldLeft(am) { case (acc, (k, bv)) =>
        acc.get(k) match {
          case None => acc + (k -> bv)
          case Some(av) => acc + (k -> mergeVals(av, bv))
        }
      }
    case (a: Vector[_], b) => a :+ b
    case (a, b) => Vector(a, b)
  }

  private def unescapeHtml(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i)
        if (semi > i) {
          val ent = s.substring(i + 1, semi)
          val rep = ent match {
            case "amp" => Some("&"); case "lt" => Some("<"); case "gt" => Some(">")
            case "quot" => Some("\""); case "apos" => Some("'")
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try Some(Integer.parseInt(e.substring(2), 16).toChar.toString)
              catch { case _: NumberFormatException => None }
            case e if e.startsWith("#") =>
              try Some(Integer.parseInt(e.substring(1)).toChar.toString)
              catch { case _: NumberFormatException => None }
            case _ => None
          }
          rep match {
            case Some(repl) => b.append(repl); i = semi + 1
            case None => b.append(c); i += 1
          }
        } else { b.append(c); i += 1 }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  // ------------------------------------------------------- JSON bridge --
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse exactly ONE JSON value consuming the whole input — Go's
    * json.Unmarshal errors on trailing garbage while Jackson's readTree
    * silently stops at the first value ("1 &lt; 2" must NOT parse as 1).
    */
  private def parseStrictJson(bytes: Array[Byte]): Any = {
    val p = jsonMapper.createParser(bytes)
    try {
      val node = jsonMapper.readTree[com.fasterxml.jackson.databind.JsonNode](p)
      if (node == null || node.isMissingNode) fail("empty JSON input")
      if (p.nextToken() != null) fail("invalid trailing content after JSON value")
      fromJackson(node)
    } finally p.close()
  }

  private def fromJackson(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    if (n == null || n.isNull) null
    else if (n.isTextual) n.asText()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isArray) {
      val b = Vector.newBuilder[Any]
      val it = n.elements(); while (it.hasNext) b += fromJackson(it.next())
      b.result()
    } else if (n.isObject) {
      var m = Map.empty[String, Any]
      val it = n.fields()
      while (it.hasNext) { val e = it.next(); m = m + (e.getKey -> fromJackson(e.getValue)) }
      m
    } else fail(s"unsupported JSON node ${n.getNodeType}")
  }

  // --------------------------------------------------------- executor --
  /** One mapped message: content None = deleted; error → content
    * unchanged + flag (the reference processor contract).
    */
  final case class Result(
      content: Option[Array[Byte]],
      meta: Map[String, String],
      error: Option[String]) {
    def text: Option[String] =
      content.map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
  }

  final class Executor private[Bloblang] (
      stmts: Vector[Stmt],
      maps: Map[String, Vector[Stmt]]) extends Serializable {

    def run(
        content: Array[Byte],
        meta0: Map[String, String] = Map.empty,
        envFn: String => Option[String] = k => sys.env.get(k),
        errorIn: Option[String] = None): Result = {
      var docCache: Option[Any] = None
      def lazyDoc(): Any = docCache match {
        case Some(v) => v
        case None =>
          val v =
            try parseStrictJson(content)
            catch {
              case scala.util.control.NonFatal(_) =>
                fail("unable to reference message as structured (with 'this')")
            }
          docCache = Some(v); v
      }
      val meta = mutable.LinkedHashMap[String, String](meta0.toSeq: _*)
      val env = new Env(() => lazyDoc(), content, box(LazyThis),
        mutable.Map.empty, meta, envFn, maps, 0, errorIn.orNull)
      var newValue: Any = VNothing
      try {
        stmts.foreach { st =>
          newValue =
            try execStmt(st, env, newValue)
            catch {
              // the reference's per-statement error shape, asserted verbatim
              // by the corpus (executor.go:178-191); any runtime failure
              // (bad regex, arity, numeric parse) must become the per-message
              // error flag, never a task-killing exception
              case e: BloblangError =>
                throw new BloblangError(s"failed assignment (line ${st.line}): ${e.getMessage}")
              case scala.util.control.NonFatal(e) =>
                throw new BloblangError(
                  s"failed assignment (line ${st.line}): ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
        }
        newValue match {
          case VDelete => Result(None, meta.toMap, None)
          case VNothing => Result(Some(content), meta.toMap, None)
          case s: String =>
            Result(Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)), meta.toMap, None)
          case b: VBytes => Result(Some(b.bytes), meta.toMap, None)
          case v =>
            Result(Some(goJson(v).getBytes(java.nio.charset.StandardCharsets.UTF_8)),
              meta.toMap, None)
        }
      } catch {
        // failed mapping: the ORIGINAL part flows on — content AND metadata
        // unchanged (half-applied meta writes must not leak), error flagged
        case e: BloblangError => Result(Some(content), meta0, Some(e.getMessage))
        case scala.util.control.NonFatal(e) =>
          Result(Some(content), meta0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }

    def mapText(content: String): Result = run(content.getBytes("UTF-8"))
  }

  /** Run a named map's statements over a value: local root + local vars,
    * shared meta (executor.go Exec with an isolated NewValue).
    */
  private def execMap(stmts: Vector[Stmt], value: Any, env: Env): Any = {
    val inner = new Env(env.lazyDoc, env.content, box(value),
      mutable.Map.empty, env.meta, env.envFn, env.maps, env.depth, env.errorMsg)
    var local: Any = VNothing
    stmts.foreach { st => local = execStmt(st, inner, local) }
    local
  }

  /** Execute one statement against the in-progress root; returns the new
    * root. A Nothing query result skips the assignment entirely
    * (executor.go:193-195).
    */
  private def execStmt(st: Stmt, env: Env, root: Any): Any = st match {
    case MapDef(_, _, _) => root // registered at compile time
    case LetStmt(name, e, _) =>
      val v = eval(e, env)
      if (v != VNothing) env.vars(name) = v
      root
    case MetaStmt(Some(key), e, _) =>
      eval(e, env) match {
        case VNothing => ()
        case VDelete => env.meta.remove(key): Unit
        case v => env.meta(key) = goString(v)
      }
      root
    case MetaStmt(None, e, _) =>
      // whole-metadata assignment (mapping.go meta root): deleted() clears,
      // an object replaces every entry, anything else is a mapping error
      eval(e, env) match {
        case VNothing => ()
        case VDelete => env.meta.clear()
        case m: Map[_, _] =>
          env.meta.clear()
          m.asInstanceOf[Map[String, Any]].foreach { case (k, v) => env.meta(k) = goString(v) }
        case v => fail(s"setting root meta requires object value, got ${typeName(v)}")
      }
      root
    case Assign(path, e, _) =>
      val v = eval(e, env)
      if (v == VNothing) root
      else if (path.isEmpty) v
      else setPath(root, path, v)
  }

  /** Path assignment with object vivification (the reference's gabs SetP
    * shape): intermediate segments become objects; assigning Delete
    * removes the key.
    */
  private def setPath(root: Any, path: Vector[String], v: Any): Any = {
    val base: Map[String, Any] = root match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any] // Nothing or scalar root vivifies
    }
    if (path.length == 1) {
      if (v == VDelete) base - path.head else base + (path.head -> v)
    } else {
      val child = base.get(path.head) match {
        case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
        case _ => Map.empty[String, Any]
      }
      base + (path.head -> setPath(child, path.tail, v))
    }
  }

  // ------------------------------------------------------------ compile --
  /** Compile a Bloblang program. Parse errors throw BloblangError at
    * compile time (the reference rejects bad mappings at config load).
    */
  def compile(program: String): Executor = {
    val (toks, tokLines) = lex(program)
    val stmts = new Parser(toks, tokLines).program()
    val maps = stmts.collect { case MapDef(n, body, _) => n -> body }.toMap
    new Executor(stmts, maps)
  }

  /** Parsed statements for the Catalyst translator (BloblangCompiler). */
  private[blob] def parseStmts(program: String): Vector[Stmt] = {
    val (toks, tokLines) = lex(program)
    new Parser(toks, tokLines).program()
  }

  // ---------------------------------------------------- Spark surface --
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.udf

  private val compiled = new java.util.concurrent.ConcurrentHashMap[String, Executor]()
  private def cached(program: String): Executor =
    compiled.computeIfAbsent(program, p => compile(p))

  /** Full message-frame stage for the config runner: operates on columns
    * (text, meta map, error) like the reference's bloblang processor on a
    * Part — meta reads/writes, error() visibility, deleted-row removal,
    * mapping failure → error flag with content unchanged. // UDF
    */
  def procStage(
      program: String,
      envMap: Map[String, String],
      textCol: String = "text",
      metaCol: String = "meta",
      errCol: String = graft.ops.Errors.ErrCol): org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    compile(program) // fail fast on the driver
    val f = udf { (content: String, meta: Map[String, String], err: String) =>
      val r = cached(program).run(
        if (content == null) Array.emptyByteArray else content.getBytes("UTF-8"),
        if (meta == null) Map.empty else meta,
        k => envMap.get(k).orElse(sys.env.get(k)),
        Option(err))
      (r.text.orNull, r.meta, r.content.isEmpty, r.error.orNull)
    }
    df => {
      import org.apache.spark.sql.functions.col
      val r = df.withColumn("__bl", f(col(textCol), col(metaCol), col(errCol)))
      r.filter(!col("__bl._3"))
        .withColumn(textCol, col("__bl._1"))
        .withColumn(metaCol, col("__bl._2"))
        // a failed mapping SETS the flag; an existing flag otherwise rides along
        .withColumn(errCol, org.apache.spark.sql.functions.coalesce(col("__bl._4"), col(errCol)))
        .drop("__bl")
    }
  }

  /** Per-row mapping column: content string → struct(content, deleted,
    * error). Compile is validated driver-side; executors compile once per
    * JVM from the captured program text (AST never serializes). // UDF —
    * the text engine is the compatibility surface; hot paths use the
    * Catalyst mappings in Blob.
    */
  def procColumn(program: String, envOverride: Map[String, String] = null): Column => Column = {
    compile(program) // fail fast on the driver
    val envMap = Option(envOverride)
    val f = udf { (content: String) =>
      val r = cached(program).run(
        if (content == null) Array.emptyByteArray else content.getBytes("UTF-8"),
        Map.empty,
        k => envMap.map(_.get(k)).getOrElse(sys.env.get(k)))
      (r.text.orNull, r.content.isEmpty, r.error.orNull)
    }.asNondeterministic() // reads process env unless overridden
    c => f(c).cast("struct<content:string,deleted:boolean,error:string>")
  }
}
