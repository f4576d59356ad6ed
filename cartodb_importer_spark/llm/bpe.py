"""Byte-pair-encoding tokenizer training and application, Spark-first.

BPE training is THE iterative text op a training-data pipeline runs at
corpus scale: each round counts adjacent token pairs across the whole
corpus and merges the most frequent one. The distributed formulation:

* corpus state lives as one token-array column — never driver-side;
* each round is ONE keyed aggregation (explode adjacent pairs -> count)
  followed by a driver fetch of a single argmax row (the merge rule —
  the MODEL is tiny and bounded by n_merges, the classic "ship the
  model, not the data" split);
* applying a merge is a pure JVM array fold (aggregate() building the
  re-tokenized array), no Python in the loop.

Cost model: n_merges rounds x (1 shuffle + 1 fold). At 100 TB you train
on a sample (tokenizers saturate quickly) and apply to everything; apply
is embarrassingly parallel.

The pure-python reference in tests/test_bpe.py pins exact behavior
(pair counts, tie-breaks, merge order) at sf0.001.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_tokens(col: Column, max_chars: int = 80) -> Column:
    """Initial BPE state: the first ``max_chars`` lowercased characters as
    single-char tokens (whitespace collapsed to the marker '_', so merges
    can cross the word boundary the way byte-level BPE does)."""
    s = F.regexp_replace(F.lower(F.substring(col, 1, max_chars)), r"\s+", "_")
    # drop the empty token Spark's split('') yields for an empty string so
    # the state matches regexp_extract_all(s, '.') on engines without
    # char-split (DuckDB oracle parity)
    return F.filter(F.split(s, ""), lambda x: x != "")


def merge_once(tokens: Column, left: str, right: str) -> Column:
    """Apply ONE merge rule (left, right) -> left||right to a token array.

    A linear fold: walk the tokens, and whenever the accumulator's last
    token equals ``left`` and the incoming token equals ``right``, replace
    the last token with the merged symbol; else append. Left-to-right,
    non-overlapping — exactly the sequential BPE semantics ('aaa' with
    merge (a,a) -> ['aa','a']). Pure JVM expression."""
    merged = left + right
    return F.aggregate(
        tokens,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def apply_merges(
    tokens: Column, merges: list[tuple[str, str]]
) -> Column:
    """Apply an ordered merge table (the trained model) to a token array —
    rank order matters, exactly like tokenizer runtimes."""
    out = tokens
    for left, right in merges:
        out = merge_once(out, left, right)
    return out


# Unit separator for the linear-scan merge path. Any token that contains
# it (or is empty/NULL) would make the joined form ambiguous, so such rows
# fall back to the exact fold — see apply_merges_scan.
_SEP = "\x01"


def _rx_quote(tok: str) -> str:
    """Regex-quote a token for the scan pattern (Java-compatible: never
    backslash-escapes alphanumerics)."""
    import re

    return re.escape(tok)


def _rx_replacement(tok: str) -> str:
    """Escape Java regexp_replace replacement metacharacters."""
    return tok.replace("\\", "\\\\").replace("$", "\\$")


def merge_once_scan(joined: Column, left: str, right: str) -> Column:
    """One merge rule over the _SEP-joined token string: replace every
    boundary-guarded ``left SEP right`` with the merged symbol. Java's
    replaceAll scans left-to-right and resumes AFTER each replacement —
    exactly merge_once's non-overlapping fold semantics — and the
    zero-width boundary guards ((?<![^SEP]) / (?![^SEP])) keep partial
    tokens from matching without consuming the neighbouring separators,
    so adjacent pair occurrences still merge. One codegen'd linear pass
    per rule vs the fold's interpreted O(n^2) accumulator copies."""
    pat = (
        f"(?<![^{_SEP}])"
        + _rx_quote(left)
        + _SEP
        + _rx_quote(right)
        + f"(?![^{_SEP}])"
    )
    return F.regexp_replace(
        joined, F.lit(pat), F.lit(_rx_replacement(left + right))
    )


def _dirty_tokens(tokens: Column) -> Column:
    """True when the joined scan form cannot represent the array: a token
    containing _SEP, an empty token, or a NULL element. NULL for a NULL
    array (which both paths map to NULL output)."""
    return F.exists(
        tokens,
        lambda x: x.isNull() | (x == "") | x.contains(_SEP),
    )


def _scan_chain(tokens: Column, merges: list[tuple[str, str]]) -> Column:
    """The raw scan pipeline: join on _SEP once, one boundary-guarded
    regexp_replace per rule, split once. Only exact on non-dirty arrays."""
    joined = F.array_join(tokens, _SEP)
    for left, right in merges:
        joined = merge_once_scan(joined, left, right)
    return F.filter(F.split(joined, _SEP), lambda x: x != "")


def apply_merges_scan(
    tokens: Column, merges: list[tuple[str, str]]
) -> Column:
    """apply_merges, the fast path: join the token array on _SEP once,
    chain one boundary-guarded regexp_replace per rule (codegen'd,
    linear), split once. Identical output to the fold — verified
    mismatch-free against apply_merges over all three SFs and pinned by
    tests/test_bpe.py — except for token arrays the joined form cannot
    represent (a token containing _SEP, an empty token, a NULL element);
    those rows take the exact fold via a lazily-evaluated branch, so the
    operator is exact on ANY input while the realistic path (~26x faster
    at sf0.1: 0.33s vs 8.7s) covers everything char_tokens can emit.

    Plan-size caveat (ADVICE r06): the when() branch embeds BOTH chains
    (scan + interpreted fold) in the expression tree for every row, so
    for large rule lists — thousand-merge vocabularies — the plan doubles
    and risks the 64KB Janino codegen fallback. This Column form is for
    SMALL rule lists (the 8-rule query, the 1-rule train round);
    DataFrame callers with big merge tables use ``apply_merges_df``,
    which splits dirty rows out with filter+union so each slice's plan
    carries exactly one chain."""
    return F.when(
        _dirty_tokens(tokens), apply_merges(tokens, merges)
    ).otherwise(_scan_chain(tokens, merges))


def apply_merges_df(
    df: DataFrame,
    tokens_col: str,
    merges: list[tuple[str, str]],
    out_col: str | None = None,
) -> DataFrame:
    """DataFrame-level merge application for LARGE rule lists: the
    scan-representable rows (everything ``char_tokens`` can emit — in a
    real corpus, all of them) take the linear regexp-scan chain, and the
    degenerate rows (token containing _SEP / empty / NULL element) are
    split out with filter+union onto the exact fold. Unlike the when()
    form, each slice's expression tree carries ONE chain, so plan size
    stays linear in the rule count and whole-stage codegen survives
    thousand-rule vocabularies (ADVICE r06). Semantics are pinned equal
    to the fold on every input class by tests/test_bpe.py."""
    out_col = out_col or tokens_col
    toks = F.col(tokens_col)
    dirty = F.coalesce(_dirty_tokens(toks), F.lit(False))
    clean = df.filter(~dirty).withColumn(
        out_col, _scan_chain(toks, merges)
    )
    degenerate = df.filter(dirty).withColumn(
        out_col, apply_merges(toks, merges)
    )
    return clean.unionByName(degenerate)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_chars: int = 80,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from the corpus.

    Returns [(left, right, pair_count), ...] in merge order. Each round:
    adjacent pairs via one sequence-zip explode, one groupBy count, and a
    1-row driver fetch of the argmax (ties broken by (left, right)
    lexicographically — deterministic across engines and runs).

    The corpus token state carries forward incrementally: each round
    applies ONLY the newly learned merge to the previous round's state
    and localCheckpoints the result (truncating both lineage and the
    Catalyst expression chain), instead of re-deriving from base chars
    through the full merge list. That keeps per-round work at one fold +
    one shuffle — O(n_merges) total token passes, not O(n_merges^2) —
    which is what makes a real multi-thousand-merge vocabulary feasible
    (VERDICT r3 item 5; SCALE.md records the 64-merge 10x run)."""
    out: list[tuple[str, str, int]] = []
    state = df.select(char_tokens(F.col(text_col), max_chars).alias("toks"))
    # conditional parallelism floor (r12): a single-row-group corpus scan
    # is ONE partition, and the checkpointed state inherits it — so every
    # round's pair explode + merge fold ran single-core. Spreading once
    # up front parallelizes all rounds; pair counts are global aggregates
    # with deterministic (cnt, l, r) ordering, so the learned table is
    # partitioning-invariant (A/B-verified identical; 9.7 -> 5.9 s at
    # sf0.1). No-op whenever the scan already splits (the 100 TB case).
    sc = df.sparkSession.sparkContext
    if state.rdd.getNumPartitions() < sc.defaultParallelism:
        state = state.repartition(sc.defaultParallelism)
    state = state.localCheckpoint(eager=False)
    for _ in range(n_merges):
        n_adj = F.greatest(F.size("toks") - 1, F.lit(0))  # empty-doc guard
        pairs = state.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, n_adj),
                    F.slice(F.col("toks"), 2, n_adj),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p")
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        out.append((row["l"], row["r"], row["cnt"]))
        if len(out) < n_merges:
            # scan-path merge (apply_merges_scan semantics, exact-guarded)
            state = state.select(
                apply_merges_scan(
                    F.col("toks"), [(row["l"], row["r"])]
                ).alias("toks")
            ).localCheckpoint(eager=False)
    return out
