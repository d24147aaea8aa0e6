"""BPE merge machinery shared by the apply query (q97), the distributed
trainer (operators/train.train_bpe_merges) and the DuckDB oracle replay
(q144 / q97's trained-rule oracle).

One merge "pass" is the greedy leftmost non-overlapping merge of pair
(a, b) over a symbol-list column: candidate flags -> overlap-resolving
mask -> padded rewrite.  Both engines express the pass as pure list
expressions so even this iterative-looking operator hash-matches
cross-engine (the q97 discipline since round 6; extracted here in round 9
so trainer and applier share one definition).

The trainer additionally needs the DuckDB side PARAMETERIZED by column
references instead of string literals: the training replay learns rule k
as a one-row CTE (argmax of pair counts) and applies it via a cross join,
so ``duck_bpe_pass`` takes SQL *expressions* for a / b / their
concatenation (pass ``'t'``-style quoted literals for the fixed-rule
form, ``a`` / ``b`` / ``a || b`` for the learned-rule form).

Spark-first shape: every pass runs over the WORD-FREQUENCY table (q76's
Heaps-law trick — per-character work scales with the vocabulary, not the
corpus), and the reference's iterative tokenizer loop becomes K bounded
dataframe passes.  ref: cosmo/monitors/text_prep.py-style token pipelines.
"""

from __future__ import annotations


def spark_bpe_pass(wcol: str, a: str, b: str):
    """(c_expr, m_expr_builder, out_expr_builder) for one greedy leftmost
    merge pass of literal rule (a, b) over symbol-list column ``wcol``.

    Symbols come from ``tokenize`` ([a-z0-9]+ only), so embedding them as
    quoted literals is injection-safe; the escape below keeps the builder
    honest if a caller ever feeds richer symbols."""
    a = a.replace("'", "\\'")
    b = b.replace("'", "\\'")
    ab = (a + b)
    c = (
        f"CASE WHEN size({wcol}) < 2 THEN CAST(array() AS ARRAY<INT>) "
        f"ELSE transform(sequence(1, size({wcol}) - 1), i_c -> "
        f"CASE WHEN element_at({wcol}, i_c) = '{a}' "
        f"AND element_at({wcol}, i_c + 1) = '{b}' THEN 1 ELSE 0 END) END"
    )

    def m(ccol: str) -> str:
        # greedy overlap resolution as an O(L) fold: merge at i iff it is a
        # candidate and position i-1 did not merge (which consumes s[i]) —
        # equivalent to the oracle's odd-run-distance formulation (the gate
        # proves it value-for-value) but linear instead of the O(L^2)
        # nested scan, which DuckDB absorbs and interpreted Spark HOFs
        # do not
        return (
            f"CASE WHEN size({ccol}) = 0 THEN CAST(array() AS ARRAY<INT>) "
            f"ELSE aggregate(sequence(1, size({ccol})), "
            f"CAST(array() AS ARRAY<INT>), (acc, i) -> "
            f"concat(acc, array(CASE WHEN element_at({ccol}, i) = 0 THEN 0 "
            f"WHEN i = 1 THEN 1 "
            f"WHEN element_at(acc, i - 1) = 1 THEN 0 "
            f"ELSE 1 END))) END"
        )

    def out(mcol: str) -> str:
        # mpad aligns so element p = "consumed by merge at p-1" and
        # element p+1 = "merge starts at p" — no 0-index element_at anywhere
        mpad = f"concat(array(0), {mcol}, array(0))"
        return (
            f"filter(transform(sequence(1, size({wcol})), p -> "
            f"CASE WHEN element_at({mpad}, p) = 1 THEN NULL "
            f"WHEN element_at({mpad}, p + 1) = 1 THEN '{ab}' "
            f"ELSE element_at({wcol}, p) END), x -> x IS NOT NULL)"
        )

    return c, m, out


def duck_bpe_pass(wcol: str, a_expr: str, b_expr: str, ab_expr: str):
    """DuckDB twin of :func:`spark_bpe_pass`, parameterized by SQL
    expressions so the rule can be a learned (column-valued) pair.  For a
    fixed rule pass ``"'t'", "'h'", "'th'"``."""
    c = (
        f"list_transform(range(1, len({wcol})), i_c -> "
        f"CASE WHEN {wcol}[i_c] = {a_expr} AND {wcol}[i_c + 1] = {b_expr} "
        f"THEN 1 ELSE 0 END)"
    )

    def m(ccol: str) -> str:
        return (
            f"list_transform(range(1, len({ccol}) + 1), i -> "
            f"CASE WHEN {ccol}[i] = 0 THEN 0 "
            f"WHEN (i - list_max(list_prepend(0, "
            f"list_transform(range(1, i + 1), j -> "
            f"CASE WHEN {ccol}[j] = 0 THEN j ELSE 0 END)))) % 2 = 1 "
            f"THEN 1 ELSE 0 END)"
        )

    def out(mcol: str) -> str:
        mpad = f"(([0] || {mcol}) || [0])"
        return (
            f"list_filter(list_transform(range(1, len({wcol}) + 1), p -> "
            f"CASE WHEN {mpad}[p] = 1 THEN NULL "
            f"WHEN {mpad}[p + 1] = 1 THEN {ab_expr} "
            f"ELSE {wcol}[p] END), x -> x IS NOT NULL)"
        )

    return c, m, out


def duck_bpe_train_ctes(toks_expr: str, n_merges: int, table: str = "documents"):
    """Unrolled DuckDB replay of the greedy BPE training loop.

    Every CTE is ``AS MATERIALIZED``: DuckDB inlines plain CTEs, and each
    merge level references the previous level TWICE (the pair-count branch
    and the apply branch), so an inlined chain duplicates the base scan
    2^n_merges times — at 16 merges that is 65k parquet opens ("Too many
    open files") before any row moves.  Materialization makes the chain
    linear, which is what lets the full-exhaustion replays (q155/q156)
    unroll ~100 merges in single-digit seconds.

    Returns ``(ctes, final_vocab, best_names)``: a list of CTE definition
    strings, the name of the CTE holding the (freq, w) vocabulary AFTER
    all ``n_merges`` merges, and the names of the one-row ``b{k}`` CTEs
    holding learned rule k as (a, b, cnt).

    Iteration k counts all adjacent symbol pairs weighted by word
    frequency (parallel zipped unnests), picks the (cnt DESC, a, b)
    argmax — the exact tie-break of the Spark trainer — and applies the
    learned rule via a one-row cross join through the shared pass
    expressions.  An empty corpus degrades gracefully: every ``b{k}`` is
    zero rows and every cross-joined apply stage is empty, matching the
    trainer's early stop.
    """
    ctes = [
        f"wf AS MATERIALIZED (SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM "
        f"(SELECT unnest({toks_expr}) AS w FROM {table}) GROUP BY w)",
        "p0 AS MATERIALIZED (SELECT word, freq, list_transform(range(1, length(word) + 1), "
        "i -> word[i:i]) AS w FROM wf)",
    ]
    prev = "p0"
    best_names = []
    for k in range(1, n_merges + 1):
        ctes.append(
            f"g{k} AS MATERIALIZED (SELECT "
            f"unnest(list_transform(range(1, len(w)), i -> w[i])) AS a, "
            f"unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS b, "
            f"freq FROM {prev})"
        )
        ctes.append(
            f"b{k} AS MATERIALIZED (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt "
            f"FROM g{k} GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        best_names.append(f"b{k}")
        c, m, out = duck_bpe_pass("w", "a", "b", "(a || b)")
        # LEFT JOIN, not CROSS JOIN: when the vocabulary runs out of pairs
        # before n_merges (all-singleton words), b{k} is empty — a cross
        # join would wipe the vocab, whereas NULL a/b makes every
        # candidate test NULL -> 0, so the pass degrades to the identity,
        # exactly matching the trainer's early break.  The word string
        # rides along so consumers can key the FINAL segmentation by word
        # (q148's per-document tokenization).
        ctes.append(
            f"r{k}c AS MATERIALIZED (SELECT word, freq, w, a, b, {c} AS c "
            f"FROM {prev} LEFT JOIN b{k} ON TRUE)"
        )
        ctes.append(
            f"r{k}m AS MATERIALIZED (SELECT word, freq, w, a, b, {m('c')} AS m FROM r{k}c)"
        )
        ctes.append(f"r{k} AS MATERIALIZED (SELECT word, freq, {out('m')} AS w FROM r{k}m)")
        prev = f"r{k}"
    return ctes, prev, best_names


def segment_word_py(word: str, rules) -> list[str]:
    """Pure-Python twin of the :func:`spark_bpe_pass` chain: run ``word``
    through ``rules`` in learned order, ONE greedy leftmost
    non-overlapping pass per rule (sequential-pass semantics — a merge
    that creates an adjacency for an EARLIER rule does not re-trigger it,
    unlike GPT-2's min-rank loop).  The executor-side kernel of
    :func:`bpe_segment_words`; the equivalence unit pins it against the
    expression chain value-for-value."""
    syms = list(word)
    if len(syms) < 2:
        return syms
    chars = set(syms)
    for a, b, _cnt, need in rules:
        # a merged symbol is a concatenation of original characters, so a
        # rule whose character set is not a subset of the word's can never
        # match — the skip that makes 1k+ rule tables affordable per word
        if not (need <= chars):
            continue
        out = []
        i, n = 0, len(syms)
        while i < n:
            if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
        if len(syms) < 2:
            break
    return syms


def build_pair_ranks(rules):
    """Rule ladder -> {(a, b): ascending tuple of 0-based ranks}.  A pair
    normally appears once; duplicate learned pairs (possible on degenerate
    corpora where overlap-skipped occurrences survive a pass) keep every
    rank so the rank kernel can honour the LATER pass too."""
    pr: dict[tuple[str, str], list[int]] = {}
    for rank, r in enumerate(rules):
        pr.setdefault((r[0], r[1]), []).append(rank)
    return {k: tuple(v) for k, v in pr.items()}


def segment_word_rank_py(word: str, pair_ranks) -> list[str]:
    """Merge-rank priority apply: O(len·log len) per word, INDEPENDENT of
    rule-table size — the production kernel a 30k–50k-rule tokenizer
    needs, where :func:`segment_word_py`'s per-word full-ladder scan is
    O(rules)/word.

    Semantics are EXACTLY the sequential-pass chain, not GPT-2's
    unrestricted min-rank loop: a monotone pointer tracks the last
    applied rank and never rewinds, so an adjacency created by a later
    merge can never re-trigger an earlier rule — precisely the "pass j
    already ran" behaviour of applying rules in learned order.  Within a
    rank the heap orders by original slot index, which equals the greedy
    leftmost non-overlapping pass because a merge's output symbol a+b can
    never itself equal a or b (so no same-rule occurrence ever appears to
    the left of the scan point).  The hypothesis gate in
    tests/test_bpe_train.py pins kernel-vs-kernel equality on arbitrary
    ladders (duplicates included), not just trained ones.

    Implementation: doubly-linked slot list + lazy heap of
    (rank, left-slot) tokens.  Every merge pushes fresh exact-rank tokens
    for the two affected adjacencies; stale tokens re-validate on pop
    against the CURRENT pair and the pointer (re-keyed lazily), so total
    heap traffic is O(len) pushes amortized.
    """
    syms = list(word)
    n = len(syms)
    if n < 2:
        return syms
    import heapq
    from bisect import bisect_left

    nxt = list(range(1, n)) + [-1]
    prv = [-1] + list(range(n - 1))
    alive = [True] * n
    heap = []
    for i in range(n - 1):
        rks = pair_ranks.get((syms[i], syms[i + 1]))
        if rks:
            heap.append((rks[0], i))
    heapq.heapify(heap)
    pointer = 0  # min admissible rank — sequential passes never rewind
    while heap:
        rank, i = heapq.heappop(heap)
        if not alive[i]:
            continue
        j = nxt[i]
        if j == -1:
            continue
        rks = pair_ranks.get((syms[i], syms[j]))
        if not rks:
            continue  # stale token: the pair at this slot changed
        k = bisect_left(rks, pointer)
        if k == len(rks):
            continue  # every pass for this pair already ran
        r = rks[k]
        if r != rank:
            heapq.heappush(heap, (r, i))  # lazy re-key, try again later
            continue
        pointer = r
        syms[i] = syms[i] + syms[j]
        alive[j] = False
        nj = nxt[j]
        nxt[i] = nj
        if nj != -1:
            prv[nj] = i
            rks2 = pair_ranks.get((syms[i], syms[nj]))
            if rks2:
                k2 = bisect_left(rks2, pointer)
                if k2 < len(rks2):
                    heapq.heappush(heap, (rks2[k2], i))
        pi = prv[i]
        if pi != -1:
            rks2 = pair_ranks.get((syms[pi], syms[i]))
            if rks2:
                k2 = bisect_left(rks2, pointer)
                if k2 < len(rks2):
                    heapq.heappush(heap, (rks2[k2], pi))
    return [syms[i] for i in range(n) if alive[i]]


def bpe_segment_words(words, rules):
    """Distinct-word BPE segmentation under a learned rule table, as ONE
    Spark job: (word, w ARRAY<STRING>, n_sym BIGINT) for every distinct
    ``word`` of ``words``.

    This is the production APPLY shape the chained
    :func:`spark_bpe_pass` form cannot reach: the expression chain runs
    one localCheckpoint job PER RULE (fine at 8, hours of job-launch
    overhead at 30k), whereas here the full rule table ships to the
    executors once inside a ``mapInPandas`` closure and every word is
    segmented in a single Arrow-batched pass over the Heaps-law-sized
    vocabulary — the corpus itself is never touched.  Python is
    sanctioned on this path for the same reason the media decode stage
    is: the work is per-distinct-word string surgery no JVM expression
    can express at rule-table scale, and the input is vocabulary-, not
    corpus-, sized.  Equivalence with the expression chain is unit-gated
    (tests/test_bpe_train.py)."""
    from pyspark.sql import functions as F

    pair_ranks: dict = {}
    for _rank, _r in enumerate(rules):
        pair_ranks.setdefault((_r[0], _r[1]), []).append(_rank)
    pair_ranks = {k: tuple(v) for k, v in pair_ranks.items()}

    def seg(batches):
        # the kernel is DEFINED INSIDE the closure (pickled by value):
        # Python workers do not share the driver's sys.path, so a
        # reference to module-level segment_word_rank_py would be a
        # ModuleNotFoundError on any cluster where the repo is not
        # installed as a package on the executors.  Merge-rank priority
        # kernel — O(len·log len)/word regardless of rule-table size;
        # bit-identity with the sequential-pass kernel is hypothesis-
        # gated (see segment_word_rank_py's docstring)
        import heapq
        from bisect import bisect_left

        def segment(word):
            syms = list(word)
            n = len(syms)
            if n < 2:
                return syms
            nxt = list(range(1, n)) + [-1]
            prv = [-1] + list(range(n - 1))
            alive = [True] * n
            heap = []
            for i in range(n - 1):
                rks = pair_ranks.get((syms[i], syms[i + 1]))
                if rks:
                    heap.append((rks[0], i))
            heapq.heapify(heap)
            pointer = 0
            while heap:
                rank, i = heapq.heappop(heap)
                if not alive[i]:
                    continue
                j = nxt[i]
                if j == -1:
                    continue
                rks = pair_ranks.get((syms[i], syms[j]))
                if not rks:
                    continue
                k = bisect_left(rks, pointer)
                if k == len(rks):
                    continue
                r = rks[k]
                if r != rank:
                    heapq.heappush(heap, (r, i))
                    continue
                pointer = r
                syms[i] = syms[i] + syms[j]
                alive[j] = False
                nj = nxt[j]
                nxt[i] = nj
                if nj != -1:
                    prv[nj] = i
                    rks2 = pair_ranks.get((syms[i], syms[nj]))
                    if rks2:
                        k2 = bisect_left(rks2, pointer)
                        if k2 < len(rks2):
                            heapq.heappush(heap, (rks2[k2], i))
                pi = prv[i]
                if pi != -1:
                    rks2 = pair_ranks.get((syms[pi], syms[i]))
                    if rks2:
                        k2 = bisect_left(rks2, pointer)
                        if k2 < len(rks2):
                            heapq.heappush(heap, (rks2[k2], pi))
            return [syms[i] for i in range(n) if alive[i]]

        import pandas as pd

        for pdf in batches:
            ws = pdf["word"].astype(str)
            segs = [segment(w) for w in ws]
            yield pd.DataFrame(
                {
                    "word": ws,
                    "w": segs,
                    "n_sym": pd.Series([len(s) for s in segs], dtype="int64"),
                }
            )

    return (
        words.select("word").distinct()
        .mapInPandas(seg, "word STRING, w ARRAY<STRING>, n_sym BIGINT")
    )


def learned_token_costs(words, rules):
    """Per-word learned-token cost table: distinct words of ``words`` (a
    DataFrame with a ``word`` column) run through ``rules`` in learned
    order, returning (word, n_sym BIGINT).

    The shared apply chain behind q148 and q153 — since round 10 backed
    by :func:`bpe_segment_words` (one vocabulary-sized Arrow pass,
    rule-table size unbounded) instead of one Spark job per rule; the
    old expression-chain form survives as
    :func:`learned_token_costs_passes` for the equivalence gate."""
    return bpe_segment_words(words, rules).select("word", "n_sym")


def learned_token_costs_passes(words, rules):
    """The round-9 expression-chain form of :func:`learned_token_costs`
    (one :func:`spark_bpe_pass` + localCheckpoint per rule).  Kept as the
    independent implementation the equivalence unit compares
    :func:`bpe_segment_words` against; no runtime path calls it.  The
    per-pass localCheckpoint is the HOF-inlining barrier q97 documents
    (Catalyst's CollapseProject otherwise inlines every pass's
    non-collapse-cheap nested lambdas into the next; measured >100 s vs
    ~1 s at sf0.01)."""
    from pyspark.sql import functions as F

    cur = words.select("word").distinct().select(
        "word",
        F.expr(
            "transform(sequence(1, char_length(word)), "
            "i -> substring(word, i, 1))"
        ).alias("w"),
    )
    for a, b, _cnt in rules:
        c, m, out = spark_bpe_pass("w", a, b)
        cur = cur.select("word", "w", F.expr(c).alias("c"))
        cur = cur.select("word", "w", F.expr(m("c")).alias("m"))
        cur = cur.select("word", F.expr(out("m")).alias("w")).localCheckpoint()
    return cur.select("word", F.size("w").cast("long").alias("n_sym"))
