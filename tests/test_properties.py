"""Property-based tests (hypothesis) — invariants over random inputs.

The reference's tests are example-based (parametrize matrices); these
upgrade the same invariants to randomized coverage:
- packing: every pack except the last is exactly N; pack_seq is a
  0..N-1 ramp; assignment is a permutation-invariant function of
  (order key, N); at every commit, the streaming pack writer's files
  hold exactly the batch's full packs over the input read so far, and
  the rows it holds back are the batch's trailing short pack;
- tokenizer/shingles: count algebra and idempotence.
"""

from __future__ import annotations

import glob
import json
import os
import tempfile
from collections import Counter

import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tower_parse_spark.functions import text as T
from tower_parse_spark.operators.pack import with_pack_id
from tower_parse_spark.plans.profile import SINGLE_GROUP

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    n_rows=st.integers(1, 120),
    pack_n=st.integers(1, 25),
    n_groups=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_pack_sizes_invariant(spark, n_rows, pack_n, n_groups):
    rows = [(i, float(i * 7 % 101), i % n_groups) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "event_id long, time double, g int")
    out = with_pack_id(df, pack_n, "g", ["time", "event_id"]).collect()
    by_group: dict[int, dict[int, list[int]]] = {}
    for r in out:
        by_group.setdefault(r["g"], {}).setdefault(r["pack_id"], []).append(
            r["pack_seq"]
        )
    for g, packs in by_group.items():
        last = max(packs)
        for pid, seqs in packs.items():
            if pid < last:
                assert sorted(seqs) == list(range(pack_n))
            else:
                assert sorted(seqs) == list(range(len(seqs)))
                assert len(seqs) <= pack_n


@st.composite
def pack_epochs(draw):
    """(key, pack length, epochs): rows ``(g, time, tb, v)`` with few
    distinct times, so ties are common, and a unique tie-break ``tb``;
    the epochs are contiguous slices of the (time, tb) order, each one
    shuffled. Key ``_g`` is the ungrouped stream."""
    key = draw(st.sampled_from([SINGLE_GROUP, "g"]))
    n_groups = 1 if key == SINGLE_GROUP else draw(st.integers(1, 4))
    n = draw(st.integers(1, 30))
    tbs = draw(st.permutations(range(n)))
    rows = sorted(
        (
            (draw(st.integers(0, n_groups - 1)), float(draw(st.integers(0, 4))),
             tb, float(tb % 7))
            for tb in tbs
        ),
        key=lambda r: (r[1], r[2]),
    )
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=0, max_size=3)))
    bounds = [0, *cuts, n]
    epochs = [
        draw(st.permutations(rows[a:b])) for a, b in zip(bounds, bounds[1:])
    ]
    return key, draw(st.integers(1, 5)), epochs


@given(case=pack_epochs())
@settings(**SETTINGS)
def test_stream_packs_equal_batch_packs_at_every_commit(spark, tmp_path, case):
    """Prefix consistency of the one pack semantics: after each epoch's
    commit, the pack files ``write_packs`` has written are exactly
    ``with_pack_id``'s full packs (rows, ``pack_id``, ``pack_seq``) over
    the epochs landed so far, and the rows not yet written are exactly
    its trailing short pack per group."""
    from tower_parse_spark.streaming import pipeline as P

    key, pack_n, epochs = case

    def group_of(row):
        return 0 if key == SINGLE_GROUP else row[key]

    work = tempfile.mkdtemp(dir=tmp_path)
    spool, out = os.path.join(work, "spool"), os.path.join(work, "packs")
    os.makedirs(spool)
    schema = "g int, time double, tb long, v double"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(spool)
    if key == SINGLE_GROUP:
        src = src.withColumn(key, F.lit(0))
    q = P.write_packs(
        P.PackedStream(src, pack_n, key, ("time", "tb")),
        out, os.path.join(work, "ckpt"), key,
    )
    landed = []
    try:
        for i, epoch in enumerate(epochs):
            tmp = os.path.join(spool, f".e{i}.json")
            with open(tmp, "w") as fh:
                for g, t, tb, v in epoch:
                    fh.write(json.dumps({"g": g, "time": t, "tb": tb, "v": v}) + "\n")
            os.rename(tmp, os.path.join(spool, f"e{i}.json"))
            landed += epoch
            q.processAllAvailable()

            written = []
            for path in glob.glob(f"{out}/{key}=*/pack_id=*/part-0.parquet"):
                gdir, pdir = path.split(os.sep)[-3:-1]
                pack_id = int(pdir.split("=")[1])
                k = 0 if key == SINGLE_GROUP else int(gdir.split("=")[1])
                written += [
                    (k, pack_id, r["pack_seq"], r["time"], r["tb"], r["v"])
                    for r in pq.read_table(path).to_pylist()
                ]
            batch = with_pack_id(
                spark.createDataFrame(landed, schema), pack_n,
                None if key == SINGLE_GROUP else key, ["time", "tb"],
            ).collect()
            count = Counter(map(group_of, batch))
            full = [
                (group_of(r), r["pack_id"], r["pack_seq"], r["time"], r["tb"], r["v"])
                for r in batch if r["pack_id"] < count[group_of(r)] // pack_n
            ]
            tail = {
                r["tb"] for r in batch
                if r["pack_id"] == count[group_of(r)] // pack_n
            }
            assert sorted(written) == sorted(full), f"epoch {i}"
            held = {tb for _, _, tb, _ in landed} - {w[4] for w in written}
            assert held == tail, f"epoch {i}"
    finally:
        q.stop()


@given(text=st.text(max_size=120))
@settings(**SETTINGS)
def test_tokens_shingles_algebra(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    toks = T.tokens(F.col("text"))
    row = df.select(
        F.size(toks).alias("nt"),
        F.size(T.shingles(toks, 3)).alias("ns"),
        toks.alias("toks"),
    ).collect()[0]
    nt, ns = row["nt"], row["ns"]
    # shingle count algebra: max(nt - 2, 0), except empty input
    assert ns == (nt - 2 if nt >= 3 else 0)
    # tokens are lowercase alnum, never empty strings
    assert all(t and t == t.lower() for t in row["toks"])


@given(
    points=st.lists(st.integers(0, 200), min_size=1, max_size=30),
    intervals=st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 60)),
        min_size=1,
        max_size=15,
    ),
    bin_width=st.sampled_from([3.0, 10.0, 50.0]),
)
@settings(**SETTINGS)
def test_range_join_matches_naive(spark, points, intervals, bin_width):
    """Binned range join ≡ the naive inequality join for any inputs and
    bin width (incl. empty intervals, bin-boundary points, duplicates)."""
    from tower_parse_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(points)], "pid long, t double"
    )
    iv = spark.createDataFrame(
        [(j, float(s), float(s + w)) for j, (s, w) in enumerate(intervals)],
        "iid long, s double, e double",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(pts, iv, "t", "s", "e", bin_width).collect()
    )
    want = sorted(
        (r["pid"], r["iid"])
        for r in pts.join(
            iv, (F.col("s") <= F.col("t")) & (F.col("t") < F.col("e"))
        ).collect()
    )
    assert got == want


@given(
    lefts=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50)),
        min_size=1,
        max_size=12,
    ),
    rights=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50)),
        min_size=1,
        max_size=12,
    ),
    direction=st.sampled_from(["backward", "forward"]),
    tolerance=st.sampled_from([None, 0.0, 5.0]),
)
@settings(**SETTINGS)
def test_asof_matches_reference(spark, lefts, rights, direction, tolerance):
    """asof_join ≡ a pure-Python nearest-row reference for random keys,
    times, both directions, and tolerance bounds (payload = unique rid
    so ties resolve via the greatest-tiebreak rule)."""
    from tower_parse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(i, k, float(t)) for i, (k, t) in enumerate(lefts)],
        "lid long, k string, t double",
    )
    right = spark.createDataFrame(
        [(j, k, float(rt)) for j, (k, rt) in enumerate(rights)],
        "rid long, k string, rt double",
    )
    got = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left,
            right,
            on="k",
            left_time="t",
            right_time="rt",
            right_payload=["rid"],
            right_tiebreak=["rid"],
            direction=direction,
            tolerance=tolerance,
        ).collect()
    }
    want = {}
    for i, (k, t) in enumerate(lefts):
        cands = [
            (rt, j)
            for j, (rk, rt) in enumerate(rights)
            if rk == k
            and (rt <= t if direction == "backward" else rt >= t)
            and (tolerance is None or abs(rt - t) <= tolerance)
        ]
        if direction == "backward":
            want[i] = max(cands)[1] if cands else None  # latest, max rid
        else:
            # earliest time; among equal times the greatest rid wins
            best_t = min(rt for rt, _ in cands) if cands else None
            want[i] = (
                max(j for rt, j in cands if rt == best_t) if cands else None
            )
    assert got == want


@given(words=st.lists(st.sampled_from(["the", "cat", "und", "la", "x9"]), max_size=12))
@settings(**SETTINGS)
def test_fingerprint_deterministic(spark, words):
    text = " ".join(words)
    df = spark.createDataFrame([(text,), (text,)], "text string")
    fps = df.select(
        T.rolling_fingerprint(T.tokens(F.col("text"))).alias("fp")
    ).collect()
    assert fps[0]["fp"] == fps[1]["fp"]
    assert 0 <= fps[0]["fp"] < T.HASH_P


@given(
    sizes=st.lists(st.integers(0, 12), min_size=1, max_size=40),
    seq_tokens=st.integers(1, 9),
    shards=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_seqpack_tiling_invariants(spark, sizes, seq_tokens, shards):
    """Packing invariants over random corpora: per shard the spans tile
    the stream exactly (no gaps/overlaps, starting at 0), sequence ids
    are span arithmetic, and tokenless docs never appear."""
    from tower_parse_spark.operators.seqpack import pack_sequences

    rows = [(i, "w " * n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(
        df, seq_tokens=seq_tokens, shards=shards
    ).collect()
    assert {r.doc_id for r in out} == {
        i for i, n in enumerate(sizes) if n > 0
    }
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for rows_s in by_shard.values():
        pos = 0
        for r in sorted(rows_s, key=lambda r: r.start_off):
            assert r.start_off == pos
            assert r.first_seq == pos // seq_tokens
            assert r.last_seq == (pos + r.n_tokens - 1) // seq_tokens
            assert r.n_seqs == r.last_seq - r.first_seq + 1
            pos += r.n_tokens


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_fuzzy_decontam_flags_every_exact_copy(spark, texts):
    """An exact copy of a benchmark doc always flags at est 1.0 when it
    has shingles; shingle-less docs (< 3 tokens) are never flagged."""
    from tower_parse_spark.functions.text import tokens as tok_fn
    from tower_parse_spark.operators.decontam import flag_contaminated_fuzzy

    bench = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n_toks = {
        r.doc_id: r.nt
        for r in corpus.select(
            "doc_id", F.size(tok_fn(F.col("text"))).alias("nt")
        ).collect()
    }
    out = {
        r.doc_id: r for r in flag_contaminated_fuzzy(corpus, bench).collect()
    }
    for i in range(len(texts)):
        if n_toks[i] >= 3:  # has shingles -> exact bench copy must flag
            assert out[i].contaminated and out[i].max_est_jaccard == 1.0
        else:
            assert not out[i].contaminated


_URL_CHARS = st.text(
    alphabet="abcXYZ09-._~%", min_size=0, max_size=8
)


@given(
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS", "hTTpS"]),
    host=st.sampled_from(
        ["A.example.COM", "www.E.org", "cdn.x.NET:443", "h.io:8080", "e.com:80"]
    ),
    path=st.lists(_URL_CHARS, max_size=3),
    params=st.lists(
        st.sampled_from(
            ["a=1", "B=Zz", "utm_source=x", "utm_medium=y", "fbclid=q",
             "gclid=g", "ref=hn", "q=%20x"]
        ),
        max_size=4,
    ),
    fragment=st.sampled_from(["", "#frag", "#a?b&c"]),
)
@settings(**SETTINGS)
def test_canonical_url_idempotent(spark, scheme, host, path, params, fragment):
    """Canonicalization is IDEMPOTENT on its own output — the invariant
    that makes URL dedup stable when a pipeline re-canonicalizes
    already-clean URLs (e.g. a recrawl merging with a cleaned corpus).
    Also: the canonical form never contains a fragment or a tracking
    parameter."""
    from tower_parse_spark.operators.urls import canonical_url

    url = (
        scheme + "://" + host + "".join("/" + p for p in path)
        + ("?" + "&".join(params) if params else "")
        + fragment
    )
    df = spark.createDataFrame([(url,)], "url string")
    once = df.select(canonical_url(F.col("url")).alias("c"))
    row = once.select(
        "c", canonical_url(F.col("c")).alias("cc")
    ).first()
    assert row["c"] == row["cc"]
    assert "#" not in row["c"]
    assert "utm_" not in row["c"] and "fbclid" not in row["c"]


@given(
    n_vecs=st.integers(2, 14),
    threshold=st.sampled_from([0.8, 0.9, 0.95]),
)
@settings(**SETTINGS)
def test_semantic_dedup_partition_invariants(spark, n_vecs, threshold):
    """Every input vector appears exactly once in the verdicts; keep and
    is_semdup are complementary; at least one member of every cell
    survives (the centroid-nearest can never be beaten)."""
    from tower_parse_spark.operators.semdedup import semantic_dedup_flags

    dim = 8
    rows = [
        (i, [float((i * 13 + j * 7) % 9 - 4 + (i % 3)) for j in range(dim)])
        for i in range(n_vecs)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_flags(df, dim=dim, threshold=threshold).collect()
    assert sorted(r.vec_id for r in out) == list(range(n_vecs))
    assert all(r.keep != r.is_semdup for r in out)
    by_cell: dict[int, list] = {}
    for r in out:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, members in by_cell.items():
        assert any(m.keep for m in members), f"cell {cell} fully dropped"


@given(text=st.text(max_size=120))
@settings(**SETTINGS)
def test_bigrams_match_python_reference(spark, text):
    """operators/lm.py::bigrams (zip_with over two slices) equals the
    obvious python pairing of the tokenizer output for arbitrary text —
    pins the slice-boundary arithmetic and the <2-token guard."""
    from tower_parse_spark.operators.lm import bigrams

    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(
        T.tokens(F.col("text")).alias("toks"),
        bigrams(T.tokens(F.col("text"))).alias("bg"),
    ).collect()[0]
    toks = row["toks"]
    expected = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    assert row["bg"] == expected


# --------------------------------------------------------------------------
# Subword fold (r8) — count algebra over random words and vocabularies
# --------------------------------------------------------------------------

_word_st = st.text(alphabet="abcdef", min_size=0, max_size=12)


def _py_greedy(word: str, vocab: tuple[str, ...]) -> int:
    """Reference implementation: greedy longest-match, 1-char fallback."""
    pieces = sorted(vocab, key=lambda s: (-len(s), s))
    pos, cnt = 0, 0
    while pos < len(word):
        step = 1
        for p in pieces:
            if word.startswith(p, pos):
                step = len(p)
                break
        pos += step
        cnt += 1
    return cnt


@given(
    words=st.lists(_word_st, min_size=1, max_size=8),
    vocab=st.sets(
        st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=1, max_size=8
    ),
)
@settings(**SETTINGS)
def test_subword_count_matches_reference_greedy(spark, words, vocab):
    """Both counting strategies — the expression fold (map probes, r9)
    and the relational hash-join path — match the Python greedy
    reference on random words and vocabularies."""
    from tower_parse_spark.operators.subword import (
        subword_count,
        subword_counts_relational,
    )

    vocab = tuple(sorted(vocab))
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        i: r.n
        for i, r in enumerate(
            df.select(subword_count(F.col("w"), vocab).alias("n")).collect()
        )
    }
    rel = {
        r.w: r.n_sub
        for r in subword_counts_relational(
            df.distinct(), vocab, word_col="w"
        ).collect()
    }
    for i, w in enumerate(words):
        expect = _py_greedy(w, vocab)
        assert got[i] == expect, (w, vocab, got[i], expect)
        assert rel[w] == expect, (w, vocab, rel[w], expect)
        # count algebra: between ceil(len/maxpiece) and len
        if w:
            assert 1 <= got[i] <= len(w)
