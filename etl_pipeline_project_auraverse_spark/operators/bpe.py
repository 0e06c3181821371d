"""Distributed BPE (byte-pair-encoding) tokenizer training.

The classic Sennrich BPE algorithm, restructured for Spark the way
production tokenizer trainers actually scale: ONE distributed pass
compresses the corpus to a (word, freq) vocabulary table — the corpus
may be 100 TB, but the distinct-word table is orders of magnitude
smaller and is the only thing the merge loop ever touches. Each merge
round is then:

1. n-gram counting: explode each vocab word's adjacent symbol pairs,
   triples, AND quads weighted by word frequency → one unioned
   groupBy().sum — one shuffle whose input is the vocab table, not
   the corpus;
2. a driver-side EXACT merge cascade (:func:`_cascade_batch`): the
   top-K pairs plus window-relevant triple/quad counts let the driver
   replay sequential argmax-merge-recount steps with exact count
   maintenance, committing MANY merges per round (measured ~4.5x on
   Zipf-shaped text) while staying byte-identical to sequential BPE
   with its deterministic tie-break (highest total frequency, then
   lexicographically smallest pair);
3. merge application: a vectorized Arrow-batched function rewrites
   each word's symbol array (greedy left-to-right, the reference
   semantics) — map-side, no shuffle;
4. ``localCheckpoint`` — same lineage-truncation lesson as
   ``components.py``: without it round N's plan embeds all prior
   rounds and Catalyst analysis time explodes.

Per-round cost is O(vocab), independent of corpus size. The symbol
merge itself is inherently sequential within a word (overlaps:
``aaaa`` + merge ``aa`` → ``aa aa``, not three pairs), which is why
step 3 is a Python-side array rewrite rather than a Column expression
— documented hot-path exception, bounded by vocab size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END_TOKEN = "</w>"  # word-final marker, as in the original algorithm


def _merge_word(symbols: list[str], left: str, right: str, joined: str) -> list[str]:
    """Greedy left-to-right single-pair merge (reference semantics)."""
    out: list[str] = []
    i = 0
    n = len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == left and symbols[i + 1] == right:
            out.append(joined)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def word_vocabulary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, symbols): the corpus compressed to its distinct
    words — the only distributed-scan step of BPE training."""
    words = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    vocab = words.groupBy("word").agg(F.count("*").alias("freq"))
    # character split via sequence+substr keeps it in codegen
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, 1),
    )
    return vocab.select(
        "word", "freq", F.concat(chars, F.array(F.lit(END_TOKEN))).alias("symbols")
    )


def _select_batch(
    top: list,
    adj_r: dict[str, int],
    adj_l: dict[str, int],
    budget: int,
    min_pair_freq: int,
) -> list[tuple[str, str, int]]:
    """Greedy prefix of the sorted candidates that is provably
    sequential-equivalent when applied as one batch.

    A batch of merges applied together yields byte-identical results to
    applying them one recount at a time iff, at each position i:

    - ``m_i`` shares NO symbol with any earlier accepted merge — and
      "symbol" includes each earlier merge's JOINED string ``l+r``:
      if the joined token's string already exists as a live vocab
      symbol, the earlier merge re-creates adjacencies of that symbol
      and can inflate ``count(m_i)`` even though ``m_i`` is disjoint
      from ``{l, r}`` (e.g. accept ``('ab','cd')`` while ``('abcd','x')``
      is also a candidate). With the joined strings excluded, applying
      the earlier merges cannot change ``count(m_i)`` (merging
      elsewhere in a word never breaks the adjacency of untouched
      neighbors, and new adjacencies always involve a joined token);
    - ``count(m_i)`` strictly exceeds every pair count the earlier
      merges could have CREATED. A new pair always contains a joined
      token ``ab``; its count is bounded by a pre-round pair adjacent
      to the merge — ``count(x, ab) <= count(x, a)`` and
      ``count(ab, y) <= count(b, y)`` — so
      ``max(adj_r[a], adj_l[b])`` over accepted merges bounds them all
      (strict ``>`` because an equal-count new pair could still win the
      lexicographic tie-break);
    - the prefix is CONTIGUOUS: the first rejected candidate ends the
      batch, because sequential training would merge it (or its
      changed-count successor) before any later candidate.
    """
    batch: list[tuple[str, str, int]] = []
    used: set[str] = set()
    bound = 0
    for t in top:
        n = int(t["n"])
        if n < min_pair_freq or len(batch) >= budget:
            break
        if batch and (n <= bound or {t["l"], t["r"], t["l"] + t["r"]} & used):
            break
        batch.append((t["l"], t["r"], n))
        # the joined string is used too: a later candidate touching it
        # (as l, r, OR as its own joined string) is order-sensitive
        used |= {t["l"], t["r"], t["l"] + t["r"]}
        bound = max(bound, adj_r.get(t["l"], 0), adj_l.get(t["r"], 0))
    return batch


# Driver-side collect cap for the per-round triple/quad statistics.
# Over the cap the round falls back to the prefix rule (still correct,
# shallower batches) rather than shipping unbounded state to the driver.
MAX_STATS_ROWS = 200_000

# Vocab tables that FIT THE DRIVER train locally: production tokenizer
# trainers do exactly this — one distributed pass compresses the corpus
# to (word, freq), and the merge loop is driver-local whenever the
# distinct-word table is small (the loop's cost is O(vocab) per merge
# regardless of where it runs, but each distributed round pays shuffle
# + collect + mapInPandas + checkpoint choreography that dwarfs the
# arithmetic below ~10^5 words). Byte-identical by construction: both
# paths implement sequential argmax BPE with the same tie-break.
DRIVER_VOCAB_CAP = 65_536


def _train_local(
    rows, num_merges: int, min_pair_freq: int
) -> list[tuple[str, str, int]]:
    """Sequential BPE over a collected (word, freq, symbols) table —
    the textbook one-recount-per-merge loop."""
    from collections import Counter

    freqs = [(list(r["symbols"]), int(r["freq"])) for r in rows]
    merges: list[tuple[str, str, int]] = []
    while len(merges) < num_merges:
        counts: Counter = Counter()
        for s, f in freqs:
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_pair_freq:
            break
        merges.append((left, right, n))
        joined = left + right
        freqs = [(_merge_word(s, left, right, joined), f) for s, f in freqs]
    return merges


def _cascade_batch(
    top: list,
    trel: dict[tuple[str, str, str], int],
    qrel: dict[tuple[str, str, str, str], int],
    budget: int,
    min_freq: int,
    floor: int,
    last_pair: tuple[str, str] | None,
) -> list[tuple[str, str, int]]:
    """Simulate the sequential merge cascade driver-side with EXACT
    count maintenance — byte-identical output, several merges per
    distributed round.

    The invariant: every pair count the argmax ever reads is exact.
    Applying merge ``(a,b) -> J`` updates pair counts from exact triple
    counts (``count(x,a)`` loses ``T[x,a,b]``, ``count(x,J)`` gains it,
    symmetrically on the right), and updates the triple table itself
    from quad counts (``(x,J,z) = Q[x,a,b,z]``, boundary triples
    ``(v,w,a) -> (v,w,J)`` via ``Q[v,w,a,b]``, ``(b,y,z) -> (J,y,z)``
    via ``Q[a,b,y,z]``). Quads are never updated, so every derivation
    that would need a 5-gram is DETECTED and the affected symbols are
    tainted instead of guessed:

    - a quad entry that overlapped an already-applied merge no longer
      describes real token adjacency;
    - a quad whose outer token could itself be absorbed by another
      instance of the same merge (``q0 == b`` / ``q3 == a``);
    - triples abutting the merge when either operand (or the triple)
      involves a token minted earlier in this cascade;
    - ``J`` itself when an operand was minted mid-cascade (its
      neighborhood triples have no quad backing).

    A merge touching a tainted symbol, a self-pair (run semantics need
    run lengths), or an ``abab`` overlap shape is ACCEPTED (its pair
    count is still exact) and ends the cascade; the next distributed
    recount resumes from truth. Out-of-window pairs are bounded by the
    window floor — real counts only decrease mid-cascade, so the argmax
    is provable above the floor, or at it for an original window pair
    that lex-beats the window's last element.

    Validated by differential fuzz against pure sequential BPE over
    1000+ corpora (Zipf, tiny/single-letter alphabets, overlap-heavy
    run shapes, windows down to 8) in tests/test_bpe.py.
    """
    known: dict[tuple[str, str], int] = {(t["l"], t["r"]): int(t["n"]) for t in top}
    window = set(known)
    C2 = dict(known)
    KT = dict(trel)
    created: set[str] = set()
    applied: set[tuple[str, str]] = set()
    taint: set[str] = set()
    batch: list[tuple[str, str, int]] = []
    while len(batch) < budget:
        live = [(p, n) for p, n in known.items() if n >= min_freq]
        if not live:
            break
        (a, b), n = min(live, key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if n < floor or (
            n == floor
            and not ((a, b) in window and last_pair is not None and (a, b) <= last_pair)
        ):
            break
        batch.append((a, b, n))
        J = a + b
        if a == b or {a, b} & taint:
            break
        if KT.get((a, b, a), 0) and KT.get((b, a, b), 0):
            break  # abab overlap: greedy double-merge ambiguity
        known[(a, b)] = 0
        for k, v in list(KT.items()):
            if v <= 0:
                continue
            x, y, z = k
            if (y, z) == (a, b) and (x, y) != (a, b):
                known[(x, a)] = known.get((x, a), C2.get((x, a), 0)) - v
                known[(x, J)] = known.get((x, J), 0) + v
            if (x, y) == (a, b):
                known[(b, z)] = known.get((b, z), C2.get((b, z), 0)) - v
                known[(J, z)] = known.get((J, z), 0) + v
        newKT: dict[tuple[str, str, str], int] = {}
        for k, v in KT.items():
            if v <= 0:
                continue
            x, y, z = k
            if (x, y) == (a, b) or (y, z) == (a, b):
                continue  # destroyed: tokens absorbed into J
            if (z == a or x == b) and ({x, y, z} & created or {a, b} & created):
                taint |= {x, y, z, J}
                continue
            newKT[k] = v
        for q, v in qrel.items():
            if v <= 0:
                continue
            q0, q1, q2, q3 = q
            pairs_in_q = [(q0, q1), (q1, q2), (q2, q3)]
            if (a, b) not in pairs_in_q:
                continue
            if any(p in applied for p in pairs_in_q):
                taint |= {q0, q1, q2, q3, J}
                continue
            if (q1, q2) == (a, b):
                if (q0, q1) == (a, b) or (q2, q3) == (a, b):
                    taint |= {q0, q3, J}
                    continue
                if q0 == b or q3 == a:
                    taint |= {q0, q1, q2, q3, J}
                    continue
                newKT[(q0, J, q3)] = newKT.get((q0, J, q3), 0) + v
            if (q2, q3) == (a, b) and (q1, q2) != (a, b):
                if (q0, q1) != (a, b):
                    if q0 == b:
                        taint |= {q0, q1, q2, q3, J}
                        continue
                    k_old = (q0, q1, q2)
                    if k_old in newKT:
                        newKT[k_old] -= v
                        if newKT[k_old] <= 0:
                            del newKT[k_old]
                    newKT[(q0, q1, J)] = newKT.get((q0, q1, J), 0) + v
            if (q0, q1) == (a, b) and (q1, q2) != (a, b):
                if (q2, q3) != (a, b):
                    if q3 == a:
                        taint |= {q0, q1, q2, q3, J}
                        continue
                    k_old = (q1, q2, q3)
                    if k_old in newKT:
                        newKT[k_old] -= v
                        if newKT[k_old] <= 0:
                            del newKT[k_old]
                    newKT[(J, q2, q3)] = newKT.get((J, q2, q3), 0) + v
        KT = newKT
        applied.add((a, b))
        if {a, b} & created:
            taint.add(J)
        created.add(J)
    return batch


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    min_pair_freq: int = 2,
    batch_candidates: int = 64,
    stats: dict | None = None,
    driver_vocab_cap: int = DRIVER_VOCAB_CAP,
) -> list[tuple[str, str, int]]:
    """Learn up to ``num_merges`` merges; returns
    ``[(left, right, pair_freq), ...]`` in merge order — byte-identical
    to sequential (one-recount-per-merge) BPE.

    Scale structure: each ROUND is ONE n-gram-count shuffle (pair,
    triple, and quad counts in the same aggregate over the vocab
    table), three bounded collects, a driver-side exact merge cascade
    (:func:`_cascade_batch`), and one map-side merge pass — committing
    MANY provably-sequential merges per distributed round. Measured
    batch factor ~4.5x on a Zipf-shaped corpus at 100 merges (vs ~1.7x
    for the older contiguous-prefix rule, kept as the over-cap
    fallback), growing with merge count as chains get deeper. Pass
    ``stats`` to receive ``{"rounds": ...}`` back.
    """
    from etl_pipeline_project_auraverse_spark.cache import (
        local_checkpoint_tracked,
        unpersist_rdd_ids,
    )

    spark = docs.sparkSession
    vocab, live_ids = local_checkpoint_tracked(word_vocabulary(docs, text_col))
    # Small-vocab fast path: the checkpoint above already materialized
    # the ONLY corpus-sized computation; probe with a limit-collect
    # (one cheap job against the checkpointed table) and finish the
    # merge loop on the driver if it fits. ``stats["rounds"] == 0``
    # marks the local path.
    if driver_vocab_cap > 0:
        probe = vocab.limit(driver_vocab_cap + 1).collect()
        if len(probe) <= driver_vocab_cap:
            unpersist_rdd_ids(spark, live_ids)
            if stats is not None:
                stats["rounds"] = 0
            return _train_local(probe, num_merges, min_pair_freq)
    merges: list[tuple[str, str, int]] = []
    rounds = 0
    try:
        while len(merges) < num_merges:
            # One aggregate computes pair, triple, AND quad counts: the
            # cascade's exact count maintenance needs all three, and
            # unioning the explodes keeps it a single shuffle. Guard:
            # sequence(0, k) with k < 0 DESCENDS (yielding nulls), so
            # words shorter than n emit no n-grams.
            def _grams(n: int):
                return F.when(
                    F.size("symbols") >= n,
                    F.transform(
                        F.sequence(F.lit(0), F.size("symbols") - n),
                        lambda i: F.struct(
                            F.lit(n).alias("n"),
                            F.get("symbols", i).alias("g1"),
                            F.get("symbols", i + 1).alias("g2"),
                            (
                                F.get("symbols", i + 2) if n >= 3 else F.lit(None)
                            ).alias("g3"),
                            (
                                F.get("symbols", i + 3) if n >= 4 else F.lit(None)
                            ).alias("g4"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast(
                        "array<struct<n:int,g1:string,g2:string,g3:string,g4:string>>"
                    )
                )

            grams = vocab.select(
                "freq",
                F.explode(F.concat(_grams(2), _grams(3), _grams(4))).alias("g"),
            )
            # cache pays at sf0.1 (20 merges, distributed path): 17.2 s, 17.5 s without
            counts = (
                grams.groupBy("g.n", "g.g1", "g.g2", "g.g3", "g.g4")
                .agg(F.sum("freq").alias("cnt"))
                .persist()
            )
            try:
                top_rows = (
                    counts.filter(F.col("n") == 2)
                    .orderBy(F.col("cnt").desc(), "g1", "g2")
                    .limit(batch_candidates)
                    .collect()
                )
                top = [
                    {"l": r["g1"], "r": r["g2"], "n": int(r["cnt"])} for r in top_rows
                ]
                if not top or top[0]["n"] < min_pair_freq:
                    break
                full_window = len(top) == batch_candidates
                floor = top[-1]["n"] if full_window else 0
                last_pair = (top[-1]["l"], top[-1]["r"]) if full_window else None
                topset = {(t["l"], t["r"]) for t in top}

                def _pair_pred(c1, c2):
                    pred = F.lit(False)
                    for pl, pr in topset:
                        pred = pred | (
                            (F.col(c1) == F.lit(pl)) & (F.col(c2) == F.lit(pr))
                        )
                    return pred

                trel_rows = (
                    counts.filter(F.col("n") == 3)
                    .filter(_pair_pred("g1", "g2") | _pair_pred("g2", "g3"))
                    .limit(MAX_STATS_ROWS + 1)
                    .collect()
                )
                qrel_rows = (
                    counts.filter(F.col("n") == 4)
                    .filter(
                        _pair_pred("g1", "g2")
                        | _pair_pred("g2", "g3")
                        | _pair_pred("g3", "g4")
                    )
                    .limit(MAX_STATS_ROWS + 1)
                    .collect()
                )
                if (
                    len(trel_rows) > MAX_STATS_ROWS
                    or len(qrel_rows) > MAX_STATS_ROWS
                ):
                    # over-cap fallback: prefix rule from adjacency
                    # maxima (still byte-identical, shallower batch)
                    lefts = list({t["l"] for t in top})
                    rights = list({t["r"] for t in top})
                    adj_r = {
                        row["g2"]: int(row["m"])
                        for row in counts.filter(
                            (F.col("n") == 2) & F.col("g2").isin(lefts)
                        )
                        .groupBy("g2")
                        .agg(F.max("cnt").alias("m"))
                        .collect()
                    }
                    adj_l = {
                        row["g1"]: int(row["m"])
                        for row in counts.filter(
                            (F.col("n") == 2) & F.col("g1").isin(rights)
                        )
                        .groupBy("g1")
                        .agg(F.max("cnt").alias("m"))
                        .collect()
                    }
                    batch = _select_batch(
                        top, adj_r, adj_l, num_merges - len(merges), min_pair_freq
                    )
                else:
                    trel = {
                        (r["g1"], r["g2"], r["g3"]): int(r["cnt"]) for r in trel_rows
                    }
                    qrel = {
                        (r["g1"], r["g2"], r["g3"], r["g4"]): int(r["cnt"])
                        for r in qrel_rows
                    }
                    batch = _cascade_batch(
                        top,
                        trel,
                        qrel,
                        num_merges - len(merges),
                        min_pair_freq,
                        floor,
                        last_pair,
                    )
            finally:
                counts.unpersist()
            merges.extend(batch)
            rounds += 1
            batch_rules = [(bl, br, bl + br) for bl, br, _ in batch]

            def apply_batch(
                batches: Iterator[pd.DataFrame], _rules=batch_rules
            ) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    pdf = pdf.copy()
                    out = []
                    for s in pdf["symbols"]:
                        syms = list(s)
                        for bl, br, bj in _rules:
                            syms = _merge_word(syms, bl, br, bj)
                        out.append(syms)
                    pdf["symbols"] = out
                    yield pdf

            # checkpoint the merged vocab (eager), THEN free the
            # superseded round's blocks — training holds exactly one
            # vocab copy in the block manager at any time
            vocab, new_ids = local_checkpoint_tracked(
                vocab.mapInPandas(
                    apply_batch,
                    schema="word string, freq long, symbols array<string>",
                )
            )
            unpersist_rdd_ids(spark, live_ids)
            live_ids = new_ids
    finally:
        # merges are plain Python — nothing distributed survives
        unpersist_rdd_ids(spark, live_ids)
    if stats is not None:
        stats["rounds"] = rounds
    return merges


def encode_words(words: list[str], merges: list[tuple[str, str, int]]) -> list[list[str]]:
    """Apply learned merges to new words (driver-side helper; the
    distributed encode is the same function inside mapInPandas)."""
    out = []
    for w in words:
        symbols = list(w) + [END_TOKEN]
        for left, right, _ in merges:
            symbols = _merge_word(symbols, left, right, left + right)
        out.append(symbols)
    return out


def bpe_token_stats(docs: DataFrame, merges: list[tuple[str, str, int]],
                    text_col: str = "text") -> DataFrame:
    """Per-document token counts under the learned BPE — the REAL
    version of the length-based token estimate in queries/text.py.
    Merges ride to executors as a broadcast-sized closure constant."""
    mg = list(merges)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                words = [w for w in str(text).lower().strip().split() if w]
                toks = encode_words(words, mg)
                n_tokens = sum(len(t) for t in toks)
                rows.append((int(doc_id), len(words), n_tokens))
            yield pd.DataFrame(rows, columns=["doc_id", "n_words", "n_bpe_tokens"])

    return docs.select("doc_id", text_col).mapInPandas(
        run, schema="doc_id long, n_words long, n_bpe_tokens long"
    )
