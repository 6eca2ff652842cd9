package graft

import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.scalacheck.{Gen, Prop, Properties}

import graft.sql.SqlDialect.toSparkSql

/** Property pins for the dialect translator:
  *  - IDEMPOTENCE on backslash-free inputs: translating the
  *    translator's own output is a no-op (every rewrite emits a form
  *    that is not itself a rewrite candidate — the fixpoint-convergence
  *    argument, checked mechanically over a generated grammar).
  *    (Backslash-bearing literals are deliberately excluded: the final
  *    standard-conforming-string escape pass is Postgres→Spark, so its
  *    OUTPUT is Spark SQL, not a Postgres input — re-translating it
  *    would re-double, by design.)
  *  - LITERAL PRESERVATION: a quote-free, backslash-free string
  *    literal's content survives translation byte-for-byte.
  *  - TERMINATION: arbitrary printable soup either translates or
  *    throws IllegalArgumentException (unterminated literal) — never
  *    hangs or blows the stack (the fixpoint guard + bounded passes).
  *  - CLAUSE REWRITES (DISTINCT ON, QUALIFY, the TOP family) are
  *    idempotent, and a trailing `;` or comment leaves the parsed
  *    Spark plan unchanged.
  */
object SqlDialectPropertySpec extends Properties("SqlDialect") {

  private val ident: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(5, Gen.alphaNumChar)
  } yield (h :: t).mkString

  private val atom: Gen[String] = Gen.oneOf(
    ident,
    Gen.choose(0, 999).map(_.toString),
    ident.map(i => s"'$i'"),
    for { a <- ident; b <- ident } yield s"$a.$b")

  private val castType: Gen[String] =
    Gen.oneOf("int8", "text", "float8", "numeric(10,2)", "double precision")

  private val exprG: Gen[String] = for {
    a <- atom
    t <- castType
    form <- Gen.choose(0, 4)
  } yield form match {
    case 0 => s"$a::$t"
    case 1 => s"count($a)::$t"
    case 2 => s"to_char($a, 'YYYY-MM-DD')"
    case 3 => s"($a)::$t"
    case _ => a
  }

  private val predG: Gen[String] = for {
    a <- atom
    p <- ident
    op <- Gen.oneOf("~", "~*", "!~", "!~*", "=", "<>")
  } yield s"$a $op '$p'"

  private val sqlG: Gen[String] = for {
    e1 <- exprG
    e2 <- exprG
    w <- predG
    t <- ident
  } yield s"SELECT $e1 AS x, $e2 AS y FROM $t WHERE $w"

  property("postgres translation is idempotent (backslash-free grammar)") =
    Prop.forAll(sqlG) { s =>
      val once = toSparkSql(s, "postgres")
      toSparkSql(once, "postgres") == once
    }

  property("snowflake translation is idempotent over its call forms") = {
    val sfG: Gen[String] = for {
      a <- atom
      n <- Gen.choose(1, 9)
      part <- Gen.oneOf("day", "month", "year", "dd", "mm")
      form <- Gen.choose(0, 3)
    } yield form match {
      case 0 => s"SELECT IFF($a > 1, 'x', 'y') FROM t"
      case 1 => s"SELECT DATEADD($part, $n, $a) FROM t"
      case 2 => s"SELECT DATEDIFF($part, $a, $a) FROM t"
      case _ => s"SELECT ZEROIFNULL(NULLIFZERO($a)) FROM t"
    }
    Prop.forAll(sfG) { s =>
      val once = toSparkSql(s, "snowflake")
      toSparkSql(once, "snowflake") == once
    }
  }

  property("string literal content survives translation") = {
    val litG = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '-', '_',
      ',', '.', '(', ')', '%', '~', ':'))).map(_.mkString)
    Prop.forAll(litG) { body =>
      toSparkSql(s"SELECT '$body'", "postgres") == s"SELECT '$body'"
    }
  }

  property("arbitrary printable soup terminates (translates or throws IAE)") = {
    val soup = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(" ~*:()[]{}'\"`$\\,.%|=<>!".toList)))
      .map(_.mkString.take(80))
    Prop.forAll(soup) { s =>
      try { toSparkSql(s, "postgres"); toSparkSql(s, "mssql"); true }
      catch {
        case _: IllegalArgumentException => true
        case _: Throwable => false
      }
    }
  }

  /** (statement, dialect) pairs for every clause-rewrite form. */
  private val clauseG: Gen[(String, String)] = for {
    n <- Gen.choose(1, 100)
    desc <- Gen.oneOf("", " DESC")
    where <- Gen.oneOf("", " WHERE b > 0")
    limit <- Gen.oneOf("", " LIMIT 3")
    form <- Gen.choose(0, 6)
  } yield form match {
    case 0 => (s"SELECT DISTINCT ON (a) a, b FROM t$where ORDER BY a, b$desc$limit", "postgres")
    case 1 => (s"SELECT DISTINCT ON (a) a, b AS x FROM t$where$limit", "postgres")
    case 2 => (s"SELECT a, b FROM t$where QUALIFY row_number() OVER " +
      s"(PARTITION BY a ORDER BY b$desc) = 1 ORDER BY a$limit", "snowflake")
    case 3 => (s"SELECT a, row_number() OVER (PARTITION BY a ORDER BY b$desc) AS rn " +
      s"FROM t$where QUALIFY rn <= $n$limit", "snowflake")
    case 4 => (s"SELECT TOP $n a, b FROM t$where ORDER BY a$desc", "mssql")
    case 5 => (s"SELECT TOP ($n) WITH TIES a, b FROM t$where ORDER BY b$desc", "mssql")
    case _ => (s"SELECT TOP $n PERCENT${if (n % 2 == 0) " WITH TIES" else ""} a, b " +
      s"FROM t$where ORDER BY a$desc", "mssql")
  }

  private val suffixG: Gen[String] = Gen.oneOf(";", " -- c", "\n-- c\n", " /* c */")

  property("clause rewrites are idempotent") = Prop.forAll(clauseG, suffixG) {
    case ((s, d), suffix) =>
      Seq(s, s + suffix).forall { q =>
        val once = toSparkSql(q, d)
        toSparkSql(once, d) == once
      }
  }

  /** The parsed plan, without the expression ids each parse mints. */
  private def plan(sql: String): String =
    CatalystSqlParser.parsePlan(sql).toString.replaceAll("#\\d+", "")

  property("a trailing ; or comment leaves the parsed plan unchanged") =
    Prop.forAll(clauseG, suffixG) { case ((s, d), suffix) =>
      plan(toSparkSql(s + suffix, d)) == plan(toSparkSql(s, d))
    }
}
