package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Z-order (Morton) curve encoding as a pure Column expression.
  *
  * Interleaves the bits of two non-negative 16-bit coordinates into one
  * 32-bit key whose ordering is the Z (Morton) space-filling curve:
  * rows sorted by the key land so that both coordinates stay in compact
  * ranges within any contiguous run. That is the property min/max file
  * skipping needs — a file holding a z-contiguous run has tight
  * [min,max] bounds on BOTH tx and ty, so a 2-D box predicate prunes
  * files the way a 1-D sort only prunes for its leading column. This is
  * the layout-time half of the engine's spatial pruning story (the
  * read-time half is the COG source's planning-time bbox pruning);
  * Delta's OPTIMIZE ZORDER applies the same idea, here expressed with
  * nothing but codegen'd bitwise built-ins (shiftleft/&/|) — no UDF, no
  * boxing, whole-stage codegen keeps it in the scan's fused loop. One
  * Catalyst tree ([[ZOrder.expression]]) serves both the Column API and
  * SQL.
  *
  * The spread uses the standard magic-mask doubling (each step doubles
  * the gap between occupied bits): 0x00FF00FF, 0x0F0F0F0F, 0x33333333,
  * 0x55555555.
  */
object ZOrder {

  /** Morton key of (x, y): x's bits at even positions, y's at odd —
    * [[expression]] as a Column.
    * Inputs outside [0, 65535] — or NON-INTEGRAL inputs, whose long
    * cast would silently alias distinct coordinates — RAISE rather
    * than aliasing under the 16-bit mask (which would destroy the
    * locality property file skipping depends on); NULLs propagate, and propagation wins
    * over the range check — `morton(70000, NULL)` is NULL, not an
    * error, matching SQL's null-in/null-out convention for builtins. */
  def morton(x: Column, y: Column): Column =
    GraftColumns.column(expression(GraftColumns.expression(x),
      GraftColumns.expression(y))).as("zorder")

  /** The interleave as a raw Catalyst expression tree: [[morton]]'s
    * body, and the SQL function [[GraftExtensions]] injects as
    * `morton(x, y)` so plain `spark.sql` users can Z-order too.
    * The guard sits ONCE above the interleave — the magic-mask
    * doubling references its operand 16x, so guarding inside the
    * spread would inflate the expression tree and generated code
    * 32-fold. Everything stays codegen'd builtins (`If`/`RaiseError`
    * included). */
  def expression(x: Expression, y: Expression): Expression = {
    def and(a: Expression, m: Long) = BitwiseAnd(a, Literal(m))
    def or(a: Expression, b: Expression) = BitwiseOr(a, b)
    def shl(a: Expression, n: Int) = ShiftLeft(a, Literal(n))
    /** Spread the low 16 bits of `c` so bit i lands at position 2i. */
    def spread(c: Expression): Expression = {
      val masked = and(c, 0xFFFFL)
      val s1 = and(or(masked, shl(masked, 8)), 0x00FF00FFL)
      val s2 = and(or(s1, shl(s1, 4)), 0x0F0F0F0FL)
      val s3 = and(or(s2, shl(s2, 2)), 0x33333333L)
      and(or(s3, shl(s3, 1)), 0x55555555L)
    }
    val lx = Cast(x, LongType)
    val ly = Cast(y, LongType)
    // the cast must be VALUE-PRESERVING: morton(1.7, y) and
    // morton(1.2, y) would both truncate to (1, y) and silently alias
    // distinct coordinates — the exact corruption the range guard
    // exists to raise on
    def ok(orig: Expression, l: Expression) =
      And(And(GreaterThanOrEqual(l, Literal(0L)),
        LessThanOrEqual(l, Literal(0xFFFFL))),
        EqualTo(Cast(orig, DoubleType), Cast(l, DoubleType)))
    If(Or(IsNull(lx), IsNull(ly)),
      Literal.create(null, LongType),
      If(And(ok(x, lx), ok(y, ly)),
        or(spread(lx), shl(spread(ly), 1)),
        Cast(new RaiseError(Concat(Seq(
          Literal("morton() input out of range [0, 65535] or non-integral: ("),
          Cast(x, StringType), Literal(", "),
          Cast(y, StringType), Literal(")")))),
          LongType)))
  }

  /** Reference implementation for specs: same interleave in plain Scala. */
  def mortonRef(x: Int, y: Int): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}
