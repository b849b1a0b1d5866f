"""Reference form of the winnowing fingerprint expression, kept for tests.

``text.winnow_fingerprints`` runs an Arrow-vectorized kernel
(``text._winnow_kernel``) for both hash modes. This module keeps the
relational higher-order-function chain that kernel replaced — the same
values, built from Spark SQL built-ins only — so ``test_text`` can pin
the kernel value-identical against it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigdata_usaspending_spark.operators.dedup import portable_hash60


def _winnow_hof_expression(
    col: Column | str,
    k: int = 8,
    w: int = 4,
    portable: bool = False,
    alias: str = "fingerprints",
    robust: bool = False,
) -> Column:
    """The pre-kernel RELATIONAL winnowing expression, kept verbatim as
    the reference semantics the kernel equivalence tests pin against
    (and as the fallback shape for an engine without Arrow)."""
    c = F.col(col) if isinstance(col, str) else col
    hash_fn = portable_hash60 if portable else F.xxhash64
    s = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    empty = F.array().cast("array<bigint>")

    def grams_of(s0: Column) -> Column:
        return F.when(
            F.length(s0) >= k,
            F.transform(
                F.sequence(F.lit(1), F.length(s0) - k + 1),
                lambda i: hash_fn(F.substr(s0, i, F.lit(k))),
            ),
        ).otherwise(empty)

    def wins_of(g: Column) -> Column:
        return F.when(
            F.size(g) >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size(g) - w + 1, F.lit(1))
                    ),
                    lambda j: F.array_min(F.slice(g, j, w)),
                )
            ),
        ).otherwise(empty)

    def robust_of(g: Column) -> Column:
        # one left fold over window start indices carrying (last selected
        # position, selections): keep `last` while it is still a minimum
        # of the current window, else append the rightmost minimal
        # position — the paper's §5 rule verbatim. F.get is 0-based and
        # NULL-safe (last=0 sentinel never trips ANSI element_at).
        # PERF: interpreted HOF evaluation re-instantiates a
        # subexpression at every reference, so the window slice, its
        # minimum, and the rightmost position are each LET-BOUND via the
        # single-element-array transform (slice/min evaluated once per
        # window instead of O(w) times — measured 4.3 s -> well under
        # 1 s on the sf0.1 sample).
        nwin = F.greatest(F.size(g) - w + 1, F.lit(1))

        def step(acc: Column, j: Column) -> Column:
            def with_newpos(m: Column, newpos: Column) -> Column:
                keep = (acc["last"] >= j) & (
                    F.get(g, acc["last"] - 1) == m
                )
                return F.struct(
                    F.when(keep, acc["last"]).otherwise(newpos).alias("last"),
                    F.when(keep, acc["sel"])
                    .otherwise(F.array_append(acc["sel"], newpos))
                    .alias("sel"),
                )

            def with_min(win: Column, m: Column) -> Column:
                rel = F.array_max(
                    F.filter(
                        F.sequence(F.lit(1), F.size(win)),
                        lambda i: F.get(win, i - 1) == m,
                    )
                )
                return F.element_at(
                    F.transform(
                        F.array((j + rel - 1).cast("int")),
                        lambda newpos: with_newpos(m, newpos),
                    ),
                    1,
                )

            return F.element_at(
                F.transform(
                    F.array(F.slice(g, j, w)),
                    lambda win: F.element_at(
                        F.transform(
                            F.array(F.array_min(win)),
                            lambda m: with_min(win, m),
                        ),
                        1,
                    ),
                ),
                1,
            )

        init = F.struct(
            F.lit(0).cast("int").alias("last"),
            F.array().cast("array<int>").alias("sel"),
        )
        sel = F.aggregate(
            F.sequence(F.lit(1), nwin), init, step, lambda acc: acc["sel"]
        )
        structs = F.transform(
            sel,
            lambda p: F.struct(
                F.get(g, p - 1).alias("fp"), p.alias("pos")
            ),
        )
        return F.when(F.size(g) >= 1, structs).otherwise(
            F.array().cast("array<struct<fp:bigint,pos:int>>")
        )

    pick = robust_of if robust else wins_of
    expr = F.element_at(
        F.transform(
            F.array(s),
            lambda s0: F.element_at(
                F.transform(F.array(grams_of(s0)), pick), 1
            ),
        ),
        1,
    )
    return expr.alias(alias)
