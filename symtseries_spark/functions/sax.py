"""SAX kernels as pure PySpark Column expressions.

Everything here compiles to Catalyst expression trees — no Python
UDFs, so the work scales with executors, not with the Python GIL. The
array forms use built-in higher-order functions (``transform`` /
``aggregate`` / ``filter`` / ``zip_with`` / ``slice``), which Spark
evaluates interpreted, outside whole-stage codegen. The two distances a
search evaluates per row or per pair, :func:`sax_zeuclidean` and the
MINDIST renderer :func:`_mindist_sums`, are flat unrolled sums when
their plan-time length is at most :data:`UNROLL_MAX`, and folds above
it.

Parameters ``w`` (word length) and ``c`` (cardinality) are plan-time
Python ints: the breakpoint and distance tables become literal arrays
that Catalyst constant-folds, exactly like the reference's compile-time
tables (/root/reference/src/symtseries.c:26-243).

Semantics contract: SURVEY.md Appendix A
(encode: src/symtseries.c:245-396,515-532; parse/format: :534-576;
mindist: :585-636). The scalar twin of every function lives in
:mod:`symtseries_spark.pykernel` and the two are property-tested equal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import (
    BREAKPOINTS,
    LETTERS,
    MINDIST_LUT,
    MISSING,
    STAT_EPS,
    validate_params,
)

_INF = float("inf")

# The longest plan-time length (n values or w letters) a distance sum is
# unrolled to a flat expression; longer sums are one fold. A flat sum
# whole-stage-codegens, but its generated code grows with its length,
# and past a few hundred terms the planner runs out of stack or memory;
# the fold is interpreted per element, but its plan is the same size at
# every length. On a 4-core host (local[4], project-then-filter, the
# shape the refine runs) the fold beat the flat form at 16, 32 and 64
# (CHANGES.md), so this is the smallest cap that keeps the registry's
# short words (w <= 16) in their flat form.
UNROLL_MAX = 16


def _let(value: Column, body) -> Column:
    """Bind ``value`` once and use it many times inside ``body``.

    Catalyst has no let-expression, and repeating an O(n) aggregate
    sub-expression per PAA frame would multiply work by w. Wrapping the
    value in a 1-element array and applying ``transform`` gives genuine
    single-evaluation binding semantics.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def is_finite(col: Column) -> Column:
    """True for non-NaN, non-±Inf values (C ``isfinite``). NULL-safe:
    NULL input yields NULL, which every filter below treats as not-finite."""
    return ~F.isnan(col) & (F.abs(col) != F.lit(_INF))


def _finite(arr: Column) -> Column:
    return F.filter(arr, lambda x: is_finite(x))


def _stats(arr: Column) -> Column:
    """STRUCT(mu, std) over the finite elements of ``arr`` — mean and
    *population* stddev, 0 when no finite values (src/symtseries.c:257-280).

    Two-pass form: mean first, then sum of squared deviations. This matches
    the numerical quality of the reference's Welford pass (its own property
    test equates them at 1e-2; src/symtseries.c:867-920).
    """

    def with_finite(fin: Column) -> Column:
        cnt = F.size(fin)
        total = F.aggregate(fin, F.lit(0.0), lambda acc, x: acc + x)
        mu = F.when(cnt > 0, total / cnt).otherwise(F.lit(0.0))

        def with_mu(m: Column) -> Column:
            ssd = F.aggregate(fin, F.lit(0.0), lambda acc, x: acc + (x - m) * (x - m))
            std = F.when(cnt > 0, F.sqrt(ssd / cnt)).otherwise(F.lit(0.0))
            return F.struct(m.alias("mu"), std.alias("std"))

        return _let(mu, with_mu)

    return _let(_finite(arr), with_finite)


def frame_letter_index(fsum: Column, fcnt: Column, mu: Column, sigma: Column, c: int) -> Column:
    """Letter index (0..c-1, ``c`` = '#') of a PAA frame from its sum and
    count of non-NaN values and the window's finite-only mean and sigma
    — the one letter rule of every encoder (src/symtseries.c:245-254,
    358-396): empty or NaN-sum frame -> '#'; ±Inf sum -> extreme letter;
    flat window (sigma < STAT_EPS) -> z = 0; else #breakpoints <= z."""
    z = F.when(sigma < STAT_EPS, F.lit(0.0)).otherwise((fsum - fcnt * mu) / (fcnt * sigma))
    bucket = F.when(z < BREAKPOINTS[c][0], F.lit(0))
    for i, b in enumerate(BREAKPOINTS[c][1:], start=1):
        bucket = bucket.when(z < b, F.lit(i))
    return (
        F.when((fcnt == 0) | F.isnan(fsum), F.lit(c))
        .when(fsum == F.lit(_INF), F.lit(c - 1))
        .when(fsum == F.lit(-_INF), F.lit(0))
        .otherwise(bucket.otherwise(F.lit(c - 1)))
    )


def frame_letter(fsum: Column, fcnt: Column, mu: Column, sigma: Column, c: int) -> Column:
    """:func:`frame_letter_index` as its SAX character."""
    idx = frame_letter_index(fsum, fcnt, mu, sigma, c)
    return F.lit(LETTERS[:c] + MISSING).substr(idx + 1, F.lit(1))


def sax_letters(arr: Column, w: int, c: int) -> Column:
    """SAX-encode an ``array<double>`` column to an ``array<int>`` of
    letter indices (0 = 'A' = lowest bucket, c-1 = highest, c = missing).

    The array length must be a multiple of ``w`` (rows violating this
    yield NULL — the expression equivalent of the reference's NULL return,
    src/symtseries.c:515-521).
    """
    validate_params(w * 2, w, c)  # validates (w, c) domains; n checked per-row

    def encode_with(stats: Column) -> Column:
        mu, std = stats["mu"], stats["std"]
        f = F.floor(F.size(arr) / w).cast("int")  # frame size n/w

        def letter_at(i: Column) -> Column:
            nonnan = F.filter(F.slice(arr, i * f + 1, f), lambda x: ~F.isnan(x))
            fsum = F.aggregate(nonnan, F.lit(0.0), lambda acc, x: acc + x)
            # bound once: the letter rule reads the partials in every branch
            part = F.struct(fsum.alias("s"), F.size(nonnan).alias("n"))
            return _let(part, lambda p: frame_letter_index(p["s"], p["n"], mu, std, c))

        return F.transform(F.sequence(F.lit(0), F.lit(w - 1)), letter_at)

    result = _let(_stats(arr), encode_with)
    valid = arr.isNotNull() & (F.size(arr) % w == 0) & (F.size(arr) > 0)
    return F.when(valid, result)


def _letters_lit(c: int) -> Column:
    return F.array(*[F.lit(ch) for ch in LETTERS[:c]], F.lit(MISSING))


def sax_format(indices: Column, c: int) -> Column:
    """Letter-index array -> canonical SAX string (src/symtseries.c:556-576).
    NULL in, NULL out (``concat_ws`` would otherwise turn NULL into '')."""
    letters = _letters_lit(c)
    return F.when(
        indices.isNotNull(),
        F.concat_ws("", F.transform(indices, lambda i: F.element_at(letters, i + 1))),
    )


def sax_encode(arr: Column, w: int, c: int) -> Column:
    """``array<double>`` -> SAX string; the flagship batch expression
    (reference ``sts_from_double_array`` + ``to_sax_string``)."""
    return _let(sax_letters(arr, w, c), lambda idx: sax_format(idx, c))


def sax_parse(word: Column, c: int, *, strict: bool = False) -> Column:
    """SAX string -> ``array<int>`` letter indices.

    Default (lenient): invalid letters for the cardinality yield NULL
    ELEMENTS — useful for exploratory parsing where per-letter validity
    matters. ``strict=True`` mirrors the reference's hard reject
    (src/symtseries.c:534-554 returns NULL for ANY out-of-range letter):
    the whole word parses to NULL if any letter is invalid, so
    downstream distance/equality expressions see the same all-or-nothing
    contract the C API gives. Pair with :func:`sax_parse_valid` to
    separate "invalid" from "missing" in data columns. The cardinality
    domain (2..16, lua/test.lua:89-90) is checked at PLAN time — a bad
    ``c`` is a query bug, not a data condition.

    Empty or NULL words yield NULL — the reference rejects w == 0 words
    (src/symtseries.c:539-542); without the guard ``sequence(1, 0)``
    would count DOWN and fabricate a 2-element array."""
    from .. import constants

    if not constants.MIN_CARDINALITY <= c <= constants.MAX_CARDINALITY:
        raise ValueError(f"cardinality must be in [2, 16], got {c}")
    chars = F.transform(F.sequence(F.lit(1), F.length(word)), lambda i: word.substr(i, F.lit(1)))
    parsed = F.transform(
        chars,
        lambda ch: F.when(ch == MISSING, F.lit(c)).otherwise(
            F.when(
                (F.ascii(ch) >= 65) & (F.ascii(ch) < 65 + c), F.ascii(ch) - 65
            )
        ),
    )
    lenient = F.when(F.length(word) > 0, parsed)
    if not strict:
        return lenient
    return F.when(~F.exists(parsed, lambda x: x.isNull()), lenient)


def sax_parse_valid(word: Column, c: int) -> Column:
    """Boolean validity of a SAX string column under the reference's
    parse rules (src/symtseries.c:534-554): non-NULL, non-empty, every
    letter either ``#`` or in the first ``c`` letters. NULL word ->
    NULL (missing, not invalid). The rule is :func:`sax_parse`'s strict
    one: a word is valid exactly when it parses to a non-NULL array."""
    return F.when(word.isNotNull(), sax_parse(word, c, strict=True).isNotNull())


def sax_parse_literal(pattern: str, c: int) -> Column:
    """Parse a LITERAL pattern eagerly, raising ``ValueError`` at plan
    time on any invalid letter / cardinality / empty word — the Spark
    twin of the reference's ``sax.word.new(str, c)`` argument errors
    (lua/test.lua:78-90). Returns the letter-index array as a literal
    column, so pattern-match queries fail fast instead of silently
    matching nothing."""
    from ..pykernel import parse

    return F.array(*[F.lit(i) for i in parse(pattern, c)])


def _resolve_n(
    n_a: Column | int | None, n_b: Column | int | None, w: Column
) -> tuple[Column, Column]:
    """(effective n, per-row conflict flag) under the reference's
    wildcard rule (src/symtseries.c:594-601): n == 0 (or NULL) adopts
    the other side's n; both wildcard -> n = w (compression 1); two
    conflicting nonzero n values -> incompatible (NaN there, NULL here).
    """
    def to_col(x: Column | int | None) -> Column | None:
        return F.lit(x) if isinstance(x, int) else x

    na, nb = to_col(n_a), to_col(n_b)
    if na is None and nb is None:
        return w, F.lit(False)
    na0 = F.coalesce(na.cast("long"), F.lit(0)) if na is not None else F.lit(0)
    nb0 = F.coalesce(nb.cast("long"), F.lit(0)) if nb is not None else F.lit(0)
    conflict = (na0 > 0) & (nb0 > 0) & (na0 != nb0)
    n_eff = F.when(na0 > 0, na0).otherwise(F.when(nb0 > 0, nb0).otherwise(w))
    return n_eff, conflict


def _contrib_const(c: int) -> tuple[tuple[float | None, ...], tuple[float | None, ...]]:
    """The MINDIST pair table of cardinality ``c``, built at plan time
    (src/symtseries.c:585-636): flat row-major (c+2)x(c+2) tuples of the
    squared distance a letter pair adds to ``above`` and to ``below``,
    indexed ``slot_a * (c+2) + slot_b``, where a letter's slot is 1..c
    for the letters, c+1 for '#' and 0 for anything else (a foreign
    letter, a NULL element). The '#' substitution (a missing letter counts
    as the bucket furthest from the other side) and the orientation
    (``above`` when a's bucket is the higher one) are baked into the
    values. Row and column 0 are NULL: one invalid letter makes the
    word's sums NULL."""
    size = c + 2
    above: list[float | None] = [None] * (size * size)
    below: list[float | None] = [None] * (size * size)
    for la in range(c + 1):
        for lb in range(c + 1):
            la2, lb2 = la, lb
            if la == c:
                la2 = c - 1 if lb < c - 1 - lb else 0
            elif lb == c:
                lb2 = c - 1 if la < c - 1 - la else 0
            d = 0.0 if la == lb else MINDIST_LUT[c][la2 * c + lb2]
            d2 = d * d
            k = (la + 1) * size + lb + 1
            above[k], below[k] = (d2, 0.0) if la2 > lb2 else (0.0, d2)
    return tuple(above), tuple(below)


def sax_mindist_parts(
    a: Column,
    b: Column,
    *,
    c: int,
    n: Column | int | None = None,
    n_b: Column | int | None = None,
) -> Column:
    """MINDIST between two equal-length letter-index arrays of cardinality
    ``c`` -> STRUCT(dist, above, below).

    ``n`` / ``n_b`` are the number of raw values each word summarizes
    (the compression scale √(n/w)), with the reference's wildcard rule
    (src/symtseries.c:591-601): 0 (or NULL) adopts the other side's n;
    both 0 -> compression 1 (n = w). Per-row incompatibility gates
    mirror the reference's NaN returns as NULL: NULL or empty arrays,
    length (w) mismatch, and — when both ``n`` and ``n_b`` are supplied
    — conflicting nonzero n values. An element outside 0..c (e.g. the
    NULL a lenient :func:`sax_parse` gives a foreign letter) makes
    dist, above and below NULL. ``above`` accumulates positions where
    a's bucket is higher-valued than b's.

    **c-compatibility is plan-time, by construction**: the pair table
    for ``c`` is baked into the expression, and both operands are
    parsed/encoded against that same ``c`` — two words of different
    cardinality can only meet in one call through caller error. Coarsen
    to a common cardinality first (:func:`sax_coarsen`); there is no
    per-row c gate because a Column cannot carry a conflicting table
    (the reference's per-object ``a->c != b->c`` NaN gate,
    src/symtseries.c:591, has no row-level analogue here).
    """
    size = c + 2
    above_t, below_t = (F.array(*map(F.lit, t)) for t in _contrib_const(c))

    def slot(x: Column) -> Column:
        return F.when((x >= 0) & (x <= c), x + 1).otherwise(F.lit(0))

    keys = F.zip_with(a, b, lambda x, y: slot(x) * size + slot(y) + 1)
    sums = F.aggregate(
        keys,
        F.struct(F.lit(0.0).alias("ab"), F.lit(0.0).alias("be")),
        lambda acc, k: F.struct(
            (acc["ab"] + F.element_at(above_t, k)).alias("ab"),
            (acc["be"] + F.element_at(below_t, k)).alias("be"),
        ),
    )
    # NULL unless both arrays have w > 0 elements and their n values
    # agree; else the sums scaled by √(n/w) (src/symtseries.c:591-636)
    w = F.size(a)
    n_eff, conflict = _resolve_n(n, n_b, w)
    comp = F.sqrt(n_eff.cast("double") / w)
    return _let(
        sums,
        lambda s: F.when(
            (w > 0) & (F.size(b) == w) & ~conflict,
            F.struct(
                (comp * F.sqrt(s["ab"] + s["be"])).alias("dist"),
                (comp * F.sqrt(s["ab"])).alias("above"),
                (comp * F.sqrt(s["be"])).alias("below"),
            ),
        ),
    )


def sax_znorm(arr: Column) -> Column:
    """z-normalize an ``array<double>`` with the kernel's stats rules
    (finite-only mean, population sigma — src/symtseries.c:257-280). A
    flat window (sigma < STAT_EPS) normalizes to all zeros, matching the
    encoder's z = 0 rule. Non-finite elements pass through unchanged and
    are skipped by :func:`sax_zeuclidean`."""

    def with_stats(st: Column) -> Column:
        mu, std = st["mu"], st["std"]
        return F.transform(
            arr,
            lambda x: F.when(~is_finite(x), x)
            .when(std < F.lit(STAT_EPS), F.lit(0.0))
            .otherwise((x - mu) / std),
        )

    return _let(_stats(arr), with_stats)


def sax_zeuclidean(za: Column, zb: Column, n: int) -> Column:
    """Exact Euclidean distance between two z-normalized arrays of ``n``
    values — the refine step of the reference's prune-then-refine story
    (its README.md:29-34 and include/symtseries.h:5-7: MINDIST
    lower-bounds this quantity, here up to the pair table's rounding,
    ``MINDIST_OVERSHOOT``). Positions where either side is non-finite
    contribute 0 (the exact-distance analogue of '#' frames); a NULL
    side, or a side whose size is not ``n``, yields NULL.

    The squared differences are added left to right. Up to
    :data:`UNROLL_MAX` they are one flat n-term sum, above it one
    ``zip_with``/``aggregate`` fold (see :data:`UNROLL_MAX`); both read
    the same guarded term in the same order, so the two forms give the
    same bits."""

    def term(x: Column, y: Column) -> Column:
        return F.when(is_finite(x) & is_finite(y), (x - y) * (x - y)).otherwise(F.lit(0.0))

    if 0 < n <= UNROLL_MAX:
        total = term(F.element_at(za, 1), F.element_at(zb, 1))
        for i in range(2, n + 1):
            total = total + term(F.element_at(za, i), F.element_at(zb, i))
    else:
        total = F.aggregate(F.zip_with(za, zb, term), F.lit(0.0), lambda a, v: a + v)
    return F.when((F.size(za) == n) & (F.size(zb) == n), F.sqrt(total))


def sax_coarsen(word: Column, c: int, c2: int) -> Column:
    """Reduce a SAX word's cardinality from ``c`` to ``c2`` (both powers
    of two, ``c2 | c``) — the iSAX idea: the reference's breakpoint
    tables nest exactly for power-of-two cardinalities (verified against
    src/symtseries.c:26-48), so encoding at ``c`` then coarsening equals
    encoding at ``c2`` directly. Letter ℓ maps to ℓ // (c/c2); '#' is
    preserved. One ``translate`` call — a single codegen'd string op —
    which makes coarse words a free prefix-tree bucket key for indexed
    similarity search (prune on coarse equality, refine with mindist).
    """
    if c2 < 2 or c % c2 or (c & (c - 1)) or (c2 & (c2 - 1)):
        raise ValueError("cardinalities must be powers of two with c2 | c")
    k = c // c2
    src = LETTERS[:c]
    dst = "".join(LETTERS[i // k] for i in range(c))
    return F.translate(word, src, dst)


def _mindist_sums(
    word_col: str,
    *,
    c: int,
    n: str | int | None = None,
    pattern: str | None = None,
    other_col: str | None = None,
    w: int | None = None,
) -> Column:
    """The per-row sums of the MINDIST from the SAX-string column named
    ``word_col`` to a right operand -> STRUCT(above, below, scale): the
    expression behind :func:`..operators.search.mindist_to_pattern` and
    :func:`..operators.search.allpairs_within`, which finish
    ``dist = scale * sqrt(above + below)``, ``scale * sqrt(above)`` and
    ``scale * sqrt(below)`` in a second projection.

    The right operand is either a literal ``pattern`` (parsed eagerly,
    ``ValueError`` on a bad letter; its w is the pattern's length) or
    the SAX-string column named ``other_col`` of length ``w``. Either
    is n = 0, so each row's ``n`` (a column name, an int, or ``None``
    for n = w) drives ``scale`` = √(n/w) — the wildcard rule of
    :func:`_resolve_n`. The struct is NULL unless the word (and the
    other column) has w letters; a letter outside the first ``c`` and
    '#' has slot 0, whose table entries are NULL. Each position reads
    the :func:`_contrib_const` tables: a pattern reads its letter's
    (c+2)-entry column at the word letter's slot, a column reads the
    flat table at both letters' pair index (src/symtseries.c:585-636).
    Up to :data:`UNROLL_MAX` letters each sum is written out position by
    position; above it each is one ``aggregate(sequence(1, w), ...)``
    over the flat table, the pattern's letter slots read from a literal
    array. Either way the sums add left from 0.0 in position order, so
    the values are bit-identical to :func:`sax_mindist_parts`'s fold.

    Each sum appears once (2w lookups): Catalyst does not inline a
    non-cheap struct that the finishing projection reads several times,
    so a row evaluates each sum once. ``dist`` is not built inside the
    struct: spelled out of both sums it would hold each sum twice, and a
    filter pushed below the projection would add a third copy.

    The expression is rendered as ONE SQL string and handed to
    ``F.expr`` once, because a probe's fixed cost is driver<->JVM round
    trips, not execution: as a Column tree every ``F.lit``,
    ``F.array``, ``element_at``, ``+`` and gate node costs 3-8 Py4J
    calls, about 1,000 of the ~1,230 an iSAX probe made at w=4, c=8,
    and the count grew with w*c. Doubles are written as
    ``repr(v) + "D"``, which round-trips exactly.
    """
    from ..pykernel import parse

    def ident(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def dbl(v: float | None) -> str:
        return "CAST(NULL AS DOUBLE)" if v is None else repr(float(v)) + "D"

    def slot(col: str, i: int | str) -> str:
        # never NULL, never out of range: element_at cannot raise under ANSI
        return f"coalesce(instr('{LETTERS[:c]}{MISSING}', substring({col}, {i}, 1)), 0)"

    word = ident(word_col)
    size = c + 2
    tables = _contrib_const(c)
    flat = [", ".join(map(dbl, t)) for t in tables]

    def pair_lookup(k: int, i: int | str, other_slot: str) -> str:  # the flat table
        return f"element_at(array({flat[k]}), {slot(word, i)} * {size} + {other_slot} + 1)"

    if other_col is None:
        indices = parse(pattern, c)
        w = len(indices)
        gate = f"length({word}) = {w}"
        slots = ", ".join(str(x + 1) for x in indices)

        def lookup(k: int, i: int | str) -> str:
            if isinstance(i, str):  # the pattern's slot from a literal array
                return pair_lookup(k, i, f"element_at(array({slots}), {i})")
            col = ", ".join(map(dbl, tables[k][indices[i - 1] + 1 :: size]))
            return f"element_at(array({col}), {slot(word, i)} + 1)"  # its column
    else:
        other = ident(other_col)
        gate = f"length({word}) = {w} AND length({other}) = {w}"

        def lookup(k: int, i: int | str) -> str:
            return pair_lookup(k, i, slot(other, i))

    if w <= UNROLL_MAX:
        above = below = "0.0D"
        for i in range(1, w + 1):
            above = f"({above} + {lookup(0, i)})"
            below = f"({below} + {lookup(1, i)})"
    else:
        above, below = (
            f"aggregate(sequence(1, {w}), 0.0D, (__s, __i) -> __s + {lookup(k, '__i')})"
            for k in (0, 1)
        )
    # the wildcard rule of _resolve_n with the right operand's n = 0
    if isinstance(n, str):
        n0 = f"coalesce(CAST({ident(n)} AS BIGINT), 0)"
        n_eff = f"CASE WHEN {n0} > 0 THEN {n0} ELSE {w} END"
    else:
        n_eff = str(n if n is not None and n > 0 else w)
    comp = f"sqrt(CAST({n_eff} AS DOUBLE) / {w})"
    return F.expr(
        f"CASE WHEN {gate} THEN named_struct("
        f"'above', {above}, 'below', {below}, 'scale', {comp}) END"
    )
