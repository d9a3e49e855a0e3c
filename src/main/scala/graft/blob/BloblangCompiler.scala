package graft.blob

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bloblang → Catalyst translator: the statically-typed subset of the text
  * language compiles to native Column expressions (whole-stage codegen, no
  * UDF), with the interpreter (`Bloblang.procStage`) as the general
  * fallback. Same program text, two execution paths — equivalence is
  * pinned by BloblangCompilerSpec and by `q_bloblang`/`q_bloblang_compiled`
  * sharing one DuckDB oracle.
  *
  * Catalog rule: a method's `Column` form lives in `Blob`, the one scalar
  * catalog. This object only types the program and dispatches — every
  * compiled method, `env()` and `map_each`/`filter` call a `Blob` member;
  * here they add only what the Bloblang type needs (a long cast on
  * `round`/`length`, a string cast on a meta value).
  *
  * Translatable subset (bail → None, caller falls back to the interpreter):
  *  - statements: `root.<path> = <expr>` — including NESTED paths
  *    (`root.a.b = …` builds a struct column `a` from all its leaf
  *    assignments, declaration-ordered, last-write-wins) — whole-document
  *    `root = <expr>` (one column named "root"; an input `meta` column is
  *    kept, as the interpreter keeps metadata across payload replacement),
  *    `meta key = <expr>` (an update of the MAP<STRING,STRING> `meta`
  *    column, last-write-wins, goString-exact value types only) and `let`
  *    bindings (inlined);
  *  - exprs: literals (object literals become typed struct columns),
  *    input-column paths (typed from the DataFrame schema; a path of ANY
  *    Spark type compiles as an opaque pass-through copy —
  *    `root.article = this.article` works for structs/arrays, though no
  *    operator or method may touch the opaque value),
  *    arithmetic/comparison/boolean operators, if/else chains (if WITHOUT
  *    else compiles too: the interpreter omits the field, the columnar
  *    shape is null — equivalent under JSON-path reads, which is the
  *    compare contract), match with literal or predicate cases (default
  *    optional, same omission-to-null mapping), `env()` resolved at
  *    compile time;
  *  - methods: uppercase, lowercase, capitalize, trim() (Go whitespace) and
  *    trim(cutset), length, contains, has_prefix, has_suffix, split, join,
  *    replace_all, re_replace_all, re_match, escape_html, reverse, slice
  *    (strings, non-negative literal bounds), string() (long/bool only —
  *    double formatting differs), abs, floor, ceil, round (half away from
  *    zero, the reference's Go math.Round — methods_numbers.go:224),
  *    number() on numeric targets (identity) and on strings (cast to
  *    double; a fallback arg coalesces the cast-null, mirroring the
  *    interpreter's parse-failure fallback); over typed arrays map_each and
  *    filter (Catalyst `transform`/`filter`, lambda param or bare-query
  *    context capture, struct elements field-accessed via the element
  *    schema), sort, flatten, unique and index.
  *
  * Deliberate non-goals (always interpreted): error-flow (`catch`/`or`/
  * pipe — Catalyst nulls are not Bloblang errors), doc-structural ops
  * (root = merged with field writes, OBJECT map_each, apply),
  * whole-metadata assignment (`meta = …`). Documented deltas inside the
  * subset: `&&`/`||` compile but Catalyst three-valued logic treats a
  * NULL operand as NULL where the interpreter raises; `number()` on an
  * unparseable string with NO fallback yields null where the interpreter
  * raises, and always produces double where the interpreter keeps
  * integral strings as longs; `reverse` and `capitalize` work on code
  * points where the interpreter works on UTF-16 units, so they differ on
  * chars outside the BMP (and `capitalize` on a first char whose upper
  * case is two chars, like ß) — callers needing those exact error/type
  * semantics keep the interpreter.
  */
object BloblangCompiler {
  import Bloblang._

  private sealed trait BT
  private case object TStrT extends BT
  private case object TLongT extends BT
  private case object TDoubleT extends BT
  private case object TBoolT extends BT
  // typed array: primitive elements compute (map_each/filter/sort/join…),
  // struct elements carry their schema so a lambda param can field-access
  private final case class TArrT(elem: BT) extends BT
  // struct value: field-accessible (lambda params over array<struct>),
  // otherwise assignment-only like TAnyT
  private final case class TStructT(st: StructType) extends BT
  // opaque pass-through: any other Spark type copied whole (maps,
  // timestamps, binary). Assignable, never operated on.
  private case object TAnyT extends BT
  private final case class Typed(col: Column, t: BT)

  private def isPrim(t: BT): Boolean =
    t == TStrT || t == TLongT || t == TDoubleT || t == TBoolT

  /** The Spark type a compiled value materializes as — needed to build
    * struct schemas for object literals (so downstream lambdas can
    * field-access what a map_each constructed). TAnyT has no single
    * type → bail.
    */
  private def dtOf(t: BT): DataType = t match {
    case TStrT => StringType
    case TLongT => LongType
    case TDoubleT => DoubleType
    case TBoolT => BooleanType
    case TStructT(st) => st
    case TArrT(e) => ArrayType(dtOf(e))
    case TAnyT => bail()
  }

  private final class Bail extends RuntimeException
  private def bail(): Nothing = throw new Bail

  /** Compile a program to (outputName, Column) pairs over `schema`, or
    * None when any statement falls outside the subset.
    */
  def tryCompile(
      program: String,
      schema: StructType,
      thisCol: Option[String] = None): Option[Vector[(String, Column)]] =
    tryCompileFull(program, schema, thisCol).map(_._1)

  /** The MAP<STRING,STRING> metadata column `meta key =` writes update. */
  private val MetaCol = "meta"
  /** The metadata column: `meta` typed MAP<STRING,STRING>. */
  private def isMetaField(f: StructField): Boolean = f.name == MetaCol &&
    (f.dataType match {
      case MapType(StringType, StringType, _) => true
      case _ => false
    })

  /** As tryCompile, also reporting whether the program REPLACED the whole
    * document (`root = <expr>` — compiled to a single column named
    * "root"): stage() must then drop the input columns but `meta`,
    * mirroring the interpreter's doc replacement.
    *
    * `thisCol` designates an input column as the document for top-level
    * `this` — the columnar stand-in for programs over non-object
    * documents (github_releases.blobl maps over a doc that IS an array);
    * without it, `this.x` reads input column x as before.
    */
  def tryCompileFull(
      program: String,
      schema: StructType,
      thisCol: Option[String] = None): Option[(Vector[(String, Column)], Boolean)] = {
    try {
      val rootCtx: Option[Typed] = thisCol.map { n =>
        val f = schema.fields.find(_.name == n).getOrElse(bail())
        Typed(col(s"`$n`"), fieldType(f.dataType))
      }
      val stmts = Bloblang.parseStmts(program)
      var vars = Map.empty[String, Typed]
      val assigns = Vector.newBuilder[(Vector[String], Column)]
      val metas = Vector.newBuilder[(String, Column)]
      var wholeRoot: Option[Column] = None // last `root = <expr>` wins
      stmts.foreach {
        case LetStmt(name, e, _) =>
          vars = vars + (name -> cExpr(e, schema, vars, rootCtx))
        case Assign(path, e, _) if path.isEmpty =>
          wholeRoot = Some(cExpr(e, schema, vars, rootCtx).col)
        case Assign(path, e, _) if path.nonEmpty =>
          assigns += path -> cExpr(e, schema, vars, rootCtx).col
        // `meta key = <expr>`: an update of the MAP<STRING,STRING> meta
        // column (the Spark mapping of the reference's flat Part
        // metadata map). Values stringify via goString — exact for
        // strings/longs/bools; doubles format differently → bail.
        // Whole-metadata assignment (`meta = …`) stays interpreted.
        case MetaStmt(Some(key), e, _) =>
          val v = cExpr(e, schema, vars, rootCtx)
          val s = v.t match {
            case TStrT => v.col
            case TLongT | TBoolT => v.col.cast(StringType)
            case _ => bail()
          }
          metas += key -> s
        case _ => bail()
      }
      val all = assigns.result()
      val metaWrites = metas.result()
      if (wholeRoot.isDefined && all.nonEmpty) bail() // doc-merge: interpreted
      // nested paths build struct columns: group leaf assignments under
      // their top-level name (first-assignment order), last write wins
      val order = all.map(_._1.head).distinct
      val rootCols = wholeRoot match {
        case Some(rc) => Vector("root" -> rc)
        case None => order.map { top =>
          top -> buildNode(all.collect { case (p, c) if p.head == top => (p.tail.toList, c) })
        }
      }
      val metaEntry: Option[(String, Column)] =
        if (metaWrites.isEmpty) None
        else {
          if (order.contains(MetaCol)) bail() // root.meta collides
          if (!schema.fields.exists(isMetaField)) bail()
          // last write per key wins, first-write order kept; existing
          // entries under a written key are dropped BEFORE concat (the
          // default mapKeyDedupPolicy=EXCEPTION would throw at runtime)
          val keys = metaWrites.map(_._1).distinct
          val lastByKey = metaWrites.groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
          val emptyMap = map_from_arrays(
            lit(Array.empty[String]), lit(Array.empty[String]))
          val cleaned = map_filter(coalesce(col(MetaCol), emptyMap),
            (k, _) => !k.isInCollection(keys))
          val entries = keys.flatMap(k => Seq(lit(k), lastByKey(k)))
          Some(MetaCol -> map_concat(cleaned, map(entries: _*)))
        }
      val result = rootCols ++ metaEntry
      if (result.isEmpty) None else Some((result, wholeRoot.isDefined))
    } catch {
      case _: Bail => None
      case _: BloblangError => None
    }
  }

  /** df → df plus the program's root fields as native columns. ONE select
    * against the original frame — not a withColumn chain — so an assigned
    * name that collides with an input column replaces it in the output
    * while every OTHER compiled expression still reads the original input
    * (the interpreter's `this` is always the input doc, never the
    * partially-built root).
    */
  def stage(program: String, schema: StructType,
      thisCol: Option[String] = None): Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] =
    tryCompileFull(program, schema, thisCol).map { case (cols, wholeRoot) => df =>
      val assigned = cols.map(_._1).toSet
      // whole-document replacement keeps nothing but the new root and the
      // meta column (metadata outlives a payload replacement, written or
      // not; a `meta` field of any other type is payload); field
      // assignment keeps unassigned inputs
      val kept = df.schema.fields.filterNot(f => assigned(f.name))
        .filter(f => !wholeRoot || isMetaField(f)).map(f => col(f.name))
      df.select(kept ++ cols.map { case (n, c) => c.as(n) }: _*)
    }

  /** One node of the nested-assignment tree: a leaf is the (last) column
    * assigned at this exact path; an interior node is a struct of its
    * children in first-assignment order. Mixing a value and children at
    * one path (`root.a = 1` + `root.a.b = 2`) bails — the interpreter
    * resolves that dynamically (gabs-style overwrite), a static struct
    * column cannot.
    */
  private def buildNode(items: Seq[(List[String], Column)]): Column = {
    val (leaves, nested) = items.partition(_._1.isEmpty)
    if (leaves.nonEmpty && nested.nonEmpty) bail()
    if (nested.isEmpty) leaves.last._2
    else {
      val order = nested.map(_._1.head).distinct
      struct(order.map { k =>
        buildNode(nested.collect { case (p, c) if p.head == k => (p.tail, c) }).as(k)
      }: _*)
    }
  }

  private def fieldType(dt: DataType): BT = dt match {
    case StringType => TStrT
    case LongType | IntegerType | ShortType | ByteType => TLongT
    case DoubleType | FloatType => TDoubleT
    case BooleanType => TBoolT
    case st: StructType => TStructT(st)
    case ArrayType(et, _) => fieldType(et) match {
      case TAnyT => TAnyT // arrays of opaque things stay opaque
      case e => TArrT(e)
    }
    case _ => TAnyT // opaque pass-through copy
  }

  private def pathOf(e: Expr): Option[Vector[String]] = e match {
    case NameRef(n) => Some(Vector(n))
    case FieldGet(t, n) => pathOf(t).map(_ :+ n)
    case ThisRef => Some(Vector.empty)
    case _ => None
  }

  private def thisRooted(e: Expr): Boolean = e match {
    case ThisRef => true
    case FieldGet(t, _) => thisRooted(t)
    case _ => false
  }

  /** Field access against a struct-typed value (lambda param / context). */
  private def fieldGet(t: Typed, name: String): Typed = t.t match {
    case TStructT(st) =>
      val f = st.fields.find(_.name == name).getOrElse(bail())
      Typed(t.col.getField(name), fieldType(f.dataType))
    case _ => bail()
  }

  /** `ctx` is the rebound `this` inside a per-element method argument
    * (map_each/filter lambda or bare query): paths resolve against the
    * ELEMENT, not the input schema — exactly the interpreter's context
    * capture (`applyElem`).
    */
  private def cExpr(
      e: Expr,
      schema: StructType,
      vars: Map[String, Typed],
      ctx: Option[Typed] = None): Typed = {
    def c(x: Expr): Typed = cExpr(x, schema, vars, ctx)
    e match {
      case Lit(s: String) => Typed(lit(s), TStrT)
      case Lit(l: Long) => Typed(lit(l), TLongT)
      case Lit(d: Double) => Typed(lit(d), TDoubleT)
      case Lit(b: Boolean) => Typed(lit(b), TBoolT)
      // object literal → struct column, its field schema tracked so a
      // downstream lambda can field-access what a map_each constructed
      // (the github_releases.blobl shape)
      case ObjLit(fields) if fields.nonEmpty =>
        val compiled = fields.map { case (k, fe) => k -> c(fe) }
        val st = StructType(compiled.map { case (k, v) => StructField(k, dtOf(v.t)) })
        Typed(struct(compiled.map { case (k, v) => v.col.as(k) }: _*), TStructT(st))
      // array literal of same-typed items (numeric widening allowed) —
      // e.g. `["pikachu","mewtwo","magmar"].contains(this.fav)`
      case ArrLit(items) if items.nonEmpty =>
        val cs = items.map(c)
        val et = joinTypes(cs.map(_.t): _*)
        Typed(array(cs.map(_.col): _*), TArrT(et))
      case VarRef(n) => vars.getOrElse(n, bail())
      case NameRef(n) if vars.contains(n) => vars(n)
      case ThisRef => ctx.getOrElse(bail())
      case p @ (NameRef(_) | FieldGet(_, _)) =>
        val segs = pathOf(p).getOrElse(bail())
        if (segs.isEmpty) ctx.getOrElse(bail())
        // a bare path whose head is a bound name (lambda param) resolves
        // against that value — `loc.name` inside `map_each(loc -> …)`;
        // `this.x.y` must NOT (same segs, different root)
        else if (!thisRooted(p) && vars.contains(segs.head))
          segs.tail.foldLeft(vars(segs.head))(fieldGet)
        else if (ctx.isDefined)
          // inside a per-element argument, context paths read the ELEMENT
          segs.foldLeft(ctx.get)(fieldGet)
        else {
          // resolve the (possibly nested) field type from the schema
          var dt: DataType = StructType(schema.fields)
          segs.foreach { s =>
            dt match {
              case st: StructType =>
                val f = st.fields.find(_.name == s).getOrElse(bail())
                dt = f.dataType
              case _ => bail()
            }
          }
          // backtick each segment: names like `30d` would otherwise parse
          // as something else entirely (track_benthos_downloads.yaml shape)
          Typed(col(segs.map(s => s"`$s`").mkString(".")), fieldType(dt))
        }
      case FuncCall("env", Vector(Lit(name: String))) => Typed(Blob.envFn(name), TStrT)
      case UnOp("!", x) =>
        val t = c(x); if (t.t != TBoolT) bail(); Typed(!t.col, TBoolT)
      case UnOp("-", x) =>
        val t = c(x)
        t.t match {
          case TLongT | TDoubleT => Typed(negate(t.col), t.t)
          case _ => bail()
        }
      case BinOp(op, le, re) => cBin(op, c(le), c(re))
      case IfExpr(branches, els) =>
        val cs = branches.map { case (cond, res) => (c(cond), c(res)) }
        if (cs.exists(_._1.t != TBoolT)) bail()
        // if WITHOUT else: the interpreter omits the field (Nothing); the
        // columnar mapping is null — equivalent under JSON-path reads
        val e0 = els.map(c)
        val rt = joinTypes((cs.map(_._2.t) ++ e0.map(_.t)): _*)
        val tail = e0.map(_.col).getOrElse(lit(null))
        val chain = cs.foldRight(tail) { case ((cond, res), acc) =>
          when(cond.col, res.col).otherwise(acc)
        }
        Typed(chain, rt)
      case MatchExpr(target, cases) if cases.nonEmpty =>
        val tcol = target.map(c)
        val hasDefault = cases.last._1.isEmpty
        // no default: unmatched = omission = null (same mapping as
        // if-without-else)
        val dflt = if (hasDefault) Some(c(cases.last._2)) else None
        val body = if (hasDefault) cases.init else cases
        if (body.exists(_._1.isEmpty)) bail() // `_` only as the final default
        val built = body.map {
          case (Some(condE), resE) =>
            val cond = (tcol, condE) match {
              // literal case against a target = equality
              case (Some(t), Lit(_)) =>
                val l = c(condE)
                if (l.t != t.t && !numPair(l.t, t.t)) bail()
                t.col === l.col
              // predicate case with no target = plain boolean expr
              case (None, _) =>
                val p = c(condE); if (p.t != TBoolT) bail(); p.col
              case _ => bail() // predicate-vs-target needs `this` rebinding
            }
            (cond, c(resE))
          case _ => bail()
        }
        val rt = joinTypes((built.map(_._2.t) ++ dflt.map(_.t)): _*)
        Typed(built.foldRight(dflt.map(_.col).getOrElse(lit(null))) {
          case ((cond, res), acc) => when(cond, res.col).otherwise(acc)
        }, rt)
      // per-element HOFs over typed arrays: Catalyst transform/filter are
      // exact twins of the interpreter's map_each/filter for the typed
      // subset (applyElem context capture → lambda variable rebinding).
      // The element compiles per invocation with `ctx`/the param bound to
      // the lambda variable; struct elements field-access via TStructT
      // (the cities.blobl corpus shape: locations.filter(loc ->
      // loc.state == "WA").map_each(loc -> loc.name)).
      case MethodCall(tE, mname @ ("map_each" | "filter"), Vector(lamE)) =>
        val t = c(tE)
        t.t match {
          case TArrT(elem) =>
            def compileBody(x: Column): Typed = {
              val xT = Typed(x, elem)
              lamE match {
                case Lambda(p2, b) =>
                  cExpr(b, schema, vars + (p2 -> xT), Some(xT))
                case q => cExpr(q, schema, vars, Some(xT))
              }
            }
            if (mname == "map_each") {
              var rt: BT = TAnyT
              val out = Blob.mapEach(t.col, x => {
                val b = compileBody(x); rt = b.t; b.col
              })
              if (rt == TAnyT) bail() // mapped elements must stay typed
              Typed(out, TArrT(rt))
            } else {
              val out = Blob.filterArr(t.col, x => {
                val b = compileBody(x)
                if (b.t != TBoolT) bail()
                b.col
              })
              Typed(out, t.t)
            }
          case _ => bail() // object map_each stays interpreted
        }
      case MethodCall(t, name, args) => cMethod(c(t), name, args.map(c), args)
      case _ => bail()
    }
  }

  private def numPair(a: BT, b: BT): Boolean =
    (a == TLongT || a == TDoubleT) && (b == TLongT || b == TDoubleT)

  private def joinTypes(ts: BT*): BT = {
    val d = ts.distinct
    if (d.isEmpty || d.contains(TAnyT)) bail()
    else if (d.length == 1) d.head
    else if (d.forall(t => t == TLongT || t == TDoubleT)) TDoubleT
    else bail()
  }

  private def cBin(op: String, l: Typed, r: Typed): Typed = op match {
    case "+" =>
      if (l.t == TStrT || r.t == TStrT) {
        // interpreter coerces via goString: exact for strings/longs/bools,
        // doubles format differently (6 vs 6.0) → bail
        def s(x: Typed): Column = x.t match {
          case TStrT => x.col
          case TLongT | TBoolT => x.col.cast(StringType)
          case _ => bail()
        }
        Typed(concat(s(l), s(r)), TStrT)
      } else if (numPair(l.t, r.t)) Typed(l.col + r.col, joinTypes(l.t, r.t))
      else bail()
    case "-" if numPair(l.t, r.t) => Typed(l.col - r.col, joinTypes(l.t, r.t))
    case "*" if numPair(l.t, r.t) => Typed(l.col * r.col, joinTypes(l.t, r.t))
    case "/" if numPair(l.t, r.t) =>
      Typed(l.col.cast(DoubleType) / r.col.cast(DoubleType), TDoubleT)
    case "%" if l.t == TLongT && r.t == TLongT => Typed(l.col % r.col, TLongT)
    case "==" => Typed(cmpSafe(l, r)(_ === _), TBoolT)
    case "!=" => Typed(cmpSafe(l, r)(_ =!= _), TBoolT)
    case "<" => Typed(cmpSafe(l, r)(_ < _), TBoolT)
    case ">" => Typed(cmpSafe(l, r)(_ > _), TBoolT)
    case "<=" => Typed(cmpSafe(l, r)(_ <= _), TBoolT)
    case ">=" => Typed(cmpSafe(l, r)(_ >= _), TBoolT)
    case "&&" if l.t == TBoolT && r.t == TBoolT => Typed(l.col && r.col, TBoolT)
    case "||" if l.t == TBoolT && r.t == TBoolT => Typed(l.col || r.col, TBoolT)
    case _ => bail() // `|` pipe is error-flow — interpreter only
  }

  private def cmpSafe(l: Typed, r: Typed)(f: (Column, Column) => Column): Column = {
    // non-primitive values (opaque/struct/array): assignment only — deep
    // equality semantics differ between engines, so bail
    if (!isPrim(l.t) || !isPrim(r.t)) bail()
    if (l.t != r.t && !numPair(l.t, r.t)) bail()
    f(l.col, r.col)
  }

  /** One method call: type rules here, the Column form from `Blob`. A
    * literal argument the form needs as a Scala value (a separator, a
    * pattern, slice bounds) must be a literal, else the call bails.
    */
  private def cMethod(t: Typed, name: String, args: Vector[Typed], raw: Vector[Expr]): Typed = {
    def str(c: Column) = Typed(c, TStrT)
    def bool(c: Column) = Typed(c, TBoolT)
    // a string-typed argument: a double would be implicitly cast by Catalyst
    // ("1.5E7") but goString-formatted by the interpreter ("15000000")
    def strArg: Column =
      if (args.length == 1 && args(0).t == TStrT) args(0).col else bail()
    def litStr(i: Int): String = raw.lift(i) match {
      case Some(Lit(v: String)) => v
      case _ => bail()
    }
    (name, t.t) match {
      case ("uppercase", TStrT) => str(Blob.uppercase(t.col))
      case ("lowercase", TStrT) => str(Blob.lowercase(t.col))
      case ("capitalize", TStrT) if args.isEmpty => str(Blob.capitalize(t.col))
      case ("escape_html", TStrT) if args.isEmpty => str(Blob.escapeHtml(t.col))
      case ("reverse", TStrT | TArrT(_)) if args.isEmpty => Typed(Blob.reverse_(t.col), t.t)
      // trim() strips Go whitespace; trim(cutset) is Go strings.Trim —
      // Spark's TRIM(BOTH cutset FROM …) has the same character-set rule
      case ("trim", TStrT) if args.isEmpty => str(Blob.trim_(t.col))
      case ("trim", TStrT) => str(Blob.trim_(t.col, litStr(0)))
      case ("length", TStrT) => Typed(Blob.strLength(t.col).cast(LongType), TLongT)
      case ("length", TArrT(_)) => Typed(Blob.length_(t.col).cast(LongType), TLongT)
      case ("contains", TStrT) => bool(Blob.containsStr(t.col, strArg))
      case ("contains", TArrT(TStrT)) => bool(Blob.containsArr(t.col, strArg))
      case ("has_prefix", TStrT) => bool(Blob.hasPrefix(t.col, strArg))
      case ("has_suffix", TStrT) => bool(Blob.hasSuffix(t.col, strArg))
      case ("split", TStrT) => Typed(Blob.splitStr(t.col, litStr(0)), TArrT(TStrT))
      // lexicographic / numeric ascending — Go sort.Slice on comparable
      // scalars; array_sort is the exact twin for non-null typed elements
      case ("sort", TArrT(e)) if args.isEmpty && isPrim(e) && e != TBoolT =>
        Typed(Blob.sortArr(t.col), t.t)
      // first occurrence kept, in order — the interpreter's LinkedHashSet
      // (not doubles: the interpreter may hold 1 and 1.0 as distinct values)
      case ("unique", TArrT(TStrT | TLongT | TBoolT)) if args.isEmpty => Typed(Blob.unique(t.col), t.t)
      case ("index", TArrT(e)) if args.length == 1 && args(0).t == TLongT =>
        Typed(Blob.index(t.col, args(0).col), e)
      // one level, exactly the interpreter's rule on array-of-array input
      case ("flatten", TArrT(TArrT(e))) if args.isEmpty => Typed(Blob.flatten_(t.col), TArrT(e))
      case ("join", TArrT(TStrT)) =>
        str(Blob.joinArr(t.col, if (raw.isEmpty) "" else litStr(0)))
      case ("replace_all", TStrT) => str(Blob.replaceAll(t.col, litStr(0), litStr(1)))
      case ("re_replace_all", TStrT) => str(Blob.reReplaceAll(t.col, litStr(0), litStr(1)))
      case ("re_match", TStrT) => bool(Blob.reMatch(t.col, litStr(0)))
      case ("slice", TStrT) =>
        (raw.lift(0), raw.lift(1)) match {
          case (Some(Lit(a: Long)), Some(Lit(b: Long))) if a >= 0 && b >= a =>
            str(Blob.sliceStr(t.col, a.toInt, b.toInt))
          case _ => bail()
        }
      case ("string", TLongT | TBoolT) => str(Blob.string(t.col))
      case ("string", TStrT) => t
      case ("abs", TLongT | TDoubleT) => Typed(Blob.abs_(t.col), t.t)
      case ("floor", TDoubleT) => Typed(Blob.floor_(t.col), TLongT)
      case ("ceil", TDoubleT) => Typed(Blob.ceil_(t.col), TLongT)
      case ("round", TDoubleT) => Typed(Blob.round_(t.col).cast(LongType), TLongT)
      case ("floor" | "ceil" | "round", TLongT) => t
      // number(): identity on numerics; strings try-cast to double (the
      // interpreter keeps integral strings as longs and RAISES on parse
      // failure — documented deltas)
      case ("number", TLongT | TDoubleT) => t
      case ("number", TStrT) =>
        args.headOption match {
          case None => Typed(Blob.number(t.col), TDoubleT)
          case Some(f) if f.t == TLongT || f.t == TDoubleT => Typed(Blob.number(t.col, f.col), TDoubleT)
          case _ => bail()
        }
      case _ => bail()
    }
  }
}
