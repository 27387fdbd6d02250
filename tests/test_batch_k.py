"""Batch-K tests: OHLC bars, time-weighted average (TWAP)."""

from __future__ import annotations

from collections import defaultdict

from parquet_to_csv_spark.operators import timeops
from parquet_to_csv_spark.sources.tables import load_table


def _cents(v: float) -> int:
    return int(v * 100 + 0.5)


def test_ohlc_bars_replay(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").collect()
    groups: dict = defaultdict(list)
    for r in ev:
        tus = r.ts // 1000
        hs_ms = (tus // 3_600_000_000) * 3_600_000
        groups[(hs_ms, r.event_type)].append(((tus, r.event_id), _cents(r.value)))
    expect = {}
    for k, rows in groups.items():
        rows.sort()
        cs = [c for _, c in rows]
        expect[k] = (
            len(rows),
            rows[0][1] / 100.0,
            max(cs) / 100.0,
            min(cs) / 100.0,
            rows[-1][1] / 100.0,
        )
    got = {
        (r.hs_ms, r.event_type): (r.n_events, r.open_v, r.high_v, r.low_v, r.close_v)
        for r in timeops.ohlc_bars(spark, sf_dir).collect()
    }
    assert got == expect
    # a bar with >1 event must exist so open != close is actually exercised
    assert any(n > 1 for n, *_ in expect.values())


def test_time_weighted_avg_replay(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").collect()
    days: dict = defaultdict(list)
    for r in ev:
        tus = r.ts // 1000
        day_ms = (tus // 86_400_000_000) * 86_400_000
        days[(r.user_id, day_ms)].append((tus, r.event_id, _cents(r.value)))
    expect = {}
    for (uid, day_ms), rows in days.items():
        rows.sort()
        end = day_ms * 1000 + 86_400_000_000
        wsum = dsum = 0
        for i, (tus, _, c) in enumerate(rows):
            nxt = rows[i + 1][0] if i + 1 < len(rows) else end
            dt = nxt - tus
            wsum += c * dt
            dsum += dt
        expect[(uid, day_ms)] = (len(rows), dsum, (wsum * 100 // dsum) / 10000.0)
    got = {
        (r.user_id, r.day_ms): (r.n_events, r.held_us, r.twap_v)
        for r in timeops.time_weighted_avg(spark, sf_dir).collect()
    }
    assert got == expect
    # multi-event user-days must exist, else LOCF weighting is untested
    assert any(n > 1 for n, *_ in expect.values())


def test_streaming_sliding_drain_matches_batch(spark, sf_dir):
    from parquet_to_csv_spark.streaming import stream as st

    got = {
        (r.ws_ms): (r.n_events, r.avg_value)
        for r in st.sliding_drain_query(spark, sf_dir).collect()
    }
    expect = {
        (r.ws_ms): (r.n_events, r.avg_value)
        for r in timeops.sliding_window_stats(spark, sf_dir).collect()
    }
    assert got == expect


def test_last_touch_attribution_replay(spark, sf_dir):
    LOOK = 604_800_000_000
    ev = load_table(spark, sf_dir, "events").collect()
    by_user: dict = defaultdict(list)
    for r in ev:
        tus = r.ts // 1000
        touch = 1 if r.event_type in ("view", "click", "signup") else 0
        by_user[r.user_id].append(((tus, 1 - touch, r.event_id), r.event_type, touch, _cents(r.value)))
    expect: dict = defaultdict(lambda: [0, 0])
    for rows in by_user.values():
        rows.sort()
        lt_type, lt_tus = None, None
        for (tus, _, _eid), etype, touch, cents in rows:
            if etype == "purchase":
                ch = (
                    lt_type
                    if lt_tus is not None and lt_tus >= tus - LOOK
                    else "direct"
                )
                expect[ch][0] += 1
                expect[ch][1] += cents
            if touch:
                lt_type, lt_tus = etype, tus
    got = {
        r.channel: (r.n_purchases, r.revenue)
        for r in timeops.last_touch_attribution(spark, sf_dir).collect()
    }
    assert got == {k: (n, c / 100.0) for k, (n, c) in expect.items()}
    assert set(got) >= {"direct"} or len(got) > 1


def test_zipf_slope_replay(spark, sf_dir):
    import math
    from collections import Counter

    from parquet_to_csv_spark.operators import text as textops

    freq = Counter()
    for r in load_table(spark, sf_dir, "documents").collect():
        freq.update(t for t in r.text.lower().split() if t)
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    pts = [
        (int(round(math.log(i + 1) * 1e6)), int(round(math.log(c) * 1e6)))
        for i, (_, c) in enumerate(top)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    num, den = float(n) * sxy - float(sx) * sy, float(n) * sxx - float(sx) * sx
    slope = num / den
    row = textops.zipf_slope(spark, sf_dir).collect()[0]
    assert row.n == n
    assert row.slope_micro == math.floor(slope * 1e6)
    assert row.intercept_micro == math.floor((sy - slope * sx) / n)
    # natural-ish corpus: slope should be clearly negative
    assert row.slope_micro < -100_000


def test_lang_source_mi_replay(spark, sf_dir):
    import math
    from collections import Counter

    from parquet_to_csv_spark.operators import mlmetrics

    docs = load_table(spark, sf_dir, "documents").collect()
    cells = Counter((r.lang, r.source) for r in docs)
    lm = Counter(r.lang for r in docs)
    sm = Counter(r.source for r in docs)
    n = len(docs)
    expect = {}
    for (lang, src), c in cells.items():
        r_, s_ = lm[lang], sm[src]
        pmi = int(round(math.log(c * n / (r_ * s_)) * 1e6))
        expect[(lang, src)] = (c, (r_ * s_) // n, pmi, c * pmi)
    got = {
        (r.lang, r.source): (r.c, r.expected, r.pmi_micro, r.mi_contrib_micro)
        for r in mlmetrics.lang_source_mi(spark, sf_dir).collect()
    }
    assert got == expect
    # total MI over N docs must be non-negative up to quantization
    assert sum(v[3] for v in expect.values()) >= -len(expect)


def test_embedding_dim_correlation_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import similarity

    vecs = [
        [int(round(float(x) * 10000)) for x in r.embedding[:16]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    ]
    n = len(vecs)
    expect = {}
    for i in range(16):
        for j in range(i + 1, 16):
            si = sum(v[i] for v in vecs)
            sj = sum(v[j] for v in vecs)
            sii = sum(v[i] * v[i] for v in vecs)
            sjj = sum(v[j] * v[j] for v in vecs)
            sij = sum(v[i] * v[j] for v in vecs)
            num = float(n) * sij - float(si) * sj
            den = math.sqrt(
                (float(n) * sii - float(si) * si) * (float(n) * sjj - float(sj) * sj)
            )
            expect[(i, j)] = math.floor(num / den * 1e6)
    got = {
        (r.d1, r.d2): r.corr_micro
        for r in similarity.embedding_dim_correlation(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) == 120


def test_mrr_label_match_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import similarity

    topk = similarity.cosine_topk(spark, sf_dir, n_queries=5, k=10).collect()
    emb = {r.vec_id: r.label for r in load_table(spark, sf_dir, "embeddings").collect()}
    first: dict = {}
    for r in topk:
        if emb[r.query_id] == emb[r.cand_id]:
            cur = first.get(r.query_id)
            first[r.query_id] = min(cur, r.rnk) if cur else r.rnk
    got = {
        r.query_id: (r.q_label, r.first_rel_rank, r.rr_micro)
        for r in similarity.mrr_label_match(spark, sf_dir).collect()
    }
    assert set(got) == set(range(5))
    for qid, (qlab, frr, rr) in got.items():
        assert qlab == emb[qid]
        assert frr == first.get(qid)
        assert rr == (1_000_000 // frr if frr else 0)


def test_ivf_nprobe_sweep_monotone(spark, sf_dir):
    from parquet_to_csv_spark.operators import similarity

    rows = sorted(
        similarity.ivf_nprobe_sweep(spark, sf_dir).collect(), key=lambda r: r.nprobe
    )
    assert [r.nprobe for r in rows] == [1, 2, 4]
    recalls = [r.recall_ppm for r in rows]
    # supersets of probed cells can only improve recall
    assert recalls == sorted(recalls)
    assert all(r.n_expected == rows[0].n_expected for r in rows)
    assert all(r.recall_ppm == r.n_hits * 1_000_000 // r.n_expected for r in rows)
    # full-probe level should retrieve at least half the exact set
    assert recalls[-1] >= 500_000


def test_dead_stock_parts_replay(spark, sf_dir):
    import datetime

    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate").collect()
    mx = max(r.l_shipdate for r in li)
    cutoff = mx - datetime.timedelta(days=90)
    recent = {r.l_partkey for r in li if r.l_shipdate >= cutoff}
    parts = load_table(spark, sf_dir, "part").collect()
    tot: dict = defaultdict(int)
    dead: dict = defaultdict(int)
    for p in parts:
        tot[p.p_brand] += 1
        if p.p_partkey not in recent:
            dead[p.p_brand] += 1
    got = {
        r.p_brand: (r.n_parts, r.n_dead, r.dead_ppm)
        for r in relational.dead_stock_parts(spark, sf_dir).collect()
    }
    assert got == {
        b: (tot[b], dead[b], dead[b] * 1_000_000 // tot[b]) for b in tot
    }


def test_winsorize_values_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import mlmetrics

    ev = load_table(spark, sf_dir, "events").collect()
    groups: dict = defaultdict(list)
    for r in ev:
        groups[r.event_type].append(_cents(r.value))
    expect = {}
    for t, cs in groups.items():
        cs.sort()
        n = len(cs)
        lo = cs[math.floor((n - 1) * 0.01)]
        hi = cs[math.floor((n - 1) * 0.99)]
        expect[t] = (
            n, lo, hi,
            sum(1 for c in cs if c < lo),
            sum(1 for c in cs if c > hi),
            sum(lo - c for c in cs if c < lo),
            sum(c - hi for c in cs if c > hi),
            sum(max(min(c, hi), lo) for c in cs),
        )
    got = {
        r.event_type: (
            r.n_events, r.lo_cents, r.hi_cents, r.n_clipped_lo, r.n_clipped_hi,
            r.excess_lo_cents, r.excess_hi_cents, r.winsorized_sum_cents,
        )
        for r in mlmetrics.winsorize_values(spark, sf_dir).collect()
    }
    assert got == expect
    # exact-cents bookkeeping must compose: wins = raw + excess_lo - excess_hi
    for t, cs in groups.items():
        raw = sum(cs)
        n, lo, hi, ncl, nch, elo, ehi, ws = got[t]
        assert ws == raw + elo - ehi
        assert ncl > 0 and nch > 0  # P1/P99 on 2k rows must clip something


def test_transition_entropy_replay(spark, sf_dir):
    import math
    from collections import Counter

    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    seqs: dict = defaultdict(list)
    for r in ev:
        seqs[r.user_id].append((r.ts // 1000, r.event_id, r.event_type))
    cells: Counter = Counter()
    for rows in seqs.values():
        rows.sort()
        for a, b in zip(rows, rows[1:]):
            cells[(a[2], b[2])] += 1
    expect = {}
    by_from: dict = defaultdict(dict)
    for (f, t), c in cells.items():
        by_from[f][t] = c
    for f, tos in by_from.items():
        t_ = sum(tos.values())
        units = sum(
            c * int(round(math.log(c / t_) * -1e6)) for c in tos.values()
        )
        mx = max(tos.values())
        mode = min(t for t, c in tos.items() if c == mx)
        expect[f] = (t_, len(tos), mode, units // t_)
    got = {
        r.from_type: (r.n_transitions, r.n_to_types, r.mode_to_type, r.entropy_micro)
        for r in tops.transition_entropy(spark, sf_dir).collect()
    }
    assert got == expect


def test_poisson_bootstrap_ci_replay(spark, sf_dir):
    import hashlib

    from parquet_to_csv_spark.operators import mlmetrics

    def u(x: int) -> int:
        return int(hashlib.md5(str(x).encode()).hexdigest()[:4], 16) % 10000

    def w(x: int) -> int:
        v = u(x)
        for thr, wt in ((3679, 0), (7358, 1), (9197, 2), (9810, 3)):
            if v < thr:
                return wt
        return 4

    ev = load_table(spark, sf_dir, "events").collect()
    means: dict = defaultdict(dict)
    for b in range(32):
        acc: dict = defaultdict(lambda: [0, 0])
        for r in ev:
            wt = w(r.event_id * 32 + b)
            acc[r.event_type][0] += wt
            acc[r.event_type][1] += wt * _cents(r.value)
        for t, (n_eff, s) in acc.items():
            means[t][b] = (s * 100) // n_eff
    expect = {}
    for t, reps in means.items():
        ordered = sorted(reps.items(), key=lambda kv: (kv[1], kv[0]))
        expect[t] = (32, ordered[0][1], ordered[30][1])
    got = {
        r.event_type: (r.n_replicates, r.lo_mean_units, r.hi_mean_units)
        for r in mlmetrics.poisson_bootstrap_ci(spark, sf_dir).collect()
    }
    assert got == expect
    # a CI must have width: identical bounds would mean the resampling is broken
    assert all(lo < hi for _, lo, hi in got.values())


def test_survivorship_merge_replay(spark, sf_dir):
    import hashlib
    import re

    from parquet_to_csv_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").collect()
    clusters: dict = defaultdict(list)
    for r in docs:
        toks = sorted({t for t in r.text.lower().split() if t})
        fp = hashlib.md5(" ".join(toks).encode()).hexdigest()
        clusters[fp].append(r)
    expect = {}
    for fp, rows in clusters.items():
        if len(rows) < 2:
            continue
        expect[fp] = (
            len(rows),
            min(r.doc_id for r in rows),
            max(r.n_chars for r in rows),
            len({r.lang for r in rows}),
            ",".join(sorted({r.source for r in rows})),
        )
    got = {
        r.fingerprint: (r.n_members, r.canonical_id, r.best_n_chars, r.n_langs, r.sources)
        for r in dedup.survivorship_merge(spark, sf_dir).collect()
    }
    assert got == expect
    assert expect, "fixture must contain at least one normalization-duplicate cluster"


def test_bounded_funnel_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import timeops as tops

    CW, PW = 3_600_000_000, 86_400_000_000
    ev = load_table(spark, sf_dir, "events").collect()
    seqs: dict = defaultdict(list)
    for r in ev:
        seqs[r.user_id].append((r.ts // 1000, r.event_id, r.event_type))
    nv = nc = np_ = 0
    for rows in seqs.values():
        rows.sort()
        tv = tc = tp = None
        run_v = run_c = None
        for tus, _, et in rows:
            if et == "view":
                if tv is None:
                    tv = tus
                run_v = tus if run_v is None else min(run_v, tus)
            elif et == "click" and run_v is not None and run_v <= tus <= run_v + CW:
                if tc is None:
                    tc = tus
                run_c = tus if run_c is None else min(run_c, tus)
            elif (
                et == "purchase"
                and run_c is not None
                and run_c <= tus <= run_c + PW
                and tp is None
            ):
                tp = tus
        nv += tv is not None
        nc += tc is not None
        np_ += tp is not None
    row = tops.bounded_funnel(spark, sf_dir).collect()[0]
    assert (row.n_view_users, row.n_click_1h, row.n_purchase_24h) == (nv, nc, np_)
    assert row.view_to_click_ppm == nc * 1_000_000 // nv
    assert row.click_to_purchase_ppm == np_ * 1_000_000 // nc
    # bounded must be strictly tighter than the unbounded funnel
    unb = timeops.funnel_stages(spark, sf_dir).collect()
    n_stage3_unb = sum(1 for r in unb if r.stage == 3)
    assert np_ <= n_stage3_unb


def test_kcore_decomposition_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import dedup

    edges = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8).collect()
    }
    cur = set(edges)
    for _ in range(3):
        deg: dict = defaultdict(int)
        for a, b in cur:
            deg[a] += 1
            deg[b] += 1
        keep = {n for n, d in deg.items() if d >= 2}
        cur = {(a, b) for a, b in cur if a in keep and b in keep}
    expect: dict = defaultdict(int)
    for a, b in cur:
        expect[a] += 1
        expect[b] += 1
    got = {
        r.doc_id: r.core_degree
        for r in dedup.kcore_decomposition(spark, sf_dir).collect()
    }
    assert got == dict(expect)
    # the peel must remove something relative to the raw graph, and keep a core
    raw_nodes = {n for e in edges for n in e}
    assert got and set(got) < raw_nodes


def test_quantile_normalize_lengths_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents").collect()
    g = sorted((r.n_chars, r.doc_id) for r in docs)
    n_tot = len(g)
    by_src: dict = defaultdict(list)
    for r in docs:
        by_src[r.source].append((r.n_chars, r.doc_id))
    expect = {}
    for src, rows in by_src.items():
        rows.sort()
        n_src = len(rows)
        for i, (nc, did) in enumerate(rows):
            grn = i * n_tot // n_src + 1
            expect[did] = (src, nc, g[grn - 1][0])
    got = {
        r.doc_id: (r.source, r.n_chars, r.qn_chars)
        for r in corpus.quantile_normalize_lengths(spark, sf_dir).collect()
    }
    assert got == expect
    # after normalization every source's distribution must span the
    # global range (quantile mapping hits the global min at rank 1)
    gmin = g[0][0]
    for src in by_src:
        assert min(q for d, (s, _, q) in got.items() if s == src) == gmin


def test_order_consolidation_pairs_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import rangejoin

    orders = load_table(spark, sf_dir, "orders").collect()
    by_cust: dict = defaultdict(list)
    for r in orders:
        ms = int(r.o_orderdate.timestamp() * 1000)
        by_cust[r.o_custkey].append((r.o_orderkey, ms, _cents(r.o_totalprice)))
    expect = {}
    for ck, rows in by_cust.items():
        for i, (ka, ma, ca) in enumerate(rows):
            for kb, mb, cb in rows:
                if ka < kb and abs(ma - mb) <= 86_400_000:
                    expect[(ck, ka, kb)] = (
                        abs(ma - mb) // 86_400_000,
                        (ca + cb) / 100.0,
                    )
    got = {
        (r.o_custkey, r.order_a, r.order_b): (r.gap_days, r.combined_value)
        for r in rangejoin.order_consolidation_pairs(spark, sf_dir).collect()
    }
    assert got == expect
    assert got, "fixture must contain same-customer orders within one day"


def test_aa_test_calibration_replay(spark, sf_dir):
    import hashlib
    import math

    from parquet_to_csv_spark.operators import mlmetrics

    ev = load_table(spark, sf_dir, "events").collect()
    firsts: dict = {}
    for r in ev:
        key = (r.ts, r.event_id)
        if r.user_id not in firsts or key < firsts[r.user_id][0]:
            firsts[r.user_id] = (key, r.event_type)
    buckets: dict = defaultdict(lambda: [0, 0])
    for uid, (_, et) in firsts.items():
        b = int(hashlib.md5(str(uid).encode()).hexdigest()[:4], 16) % 10
        buckets[b][0] += 1
        buckets[b][1] += et == "error"
    expect = {}
    for pair in range(5):
        if 2 * pair not in buckets or 2 * pair + 1 not in buckets:
            continue
        n1, x1 = buckets[2 * pair]
        n2, x2 = buckets[2 * pair + 1]
        if not (0 < x1 + x2 < n1 + n2):
            continue
        p = (x1 + x2) / (n1 + n2)
        z = (x1 / n1 - x2 / n2) / math.sqrt(p * (1 - p) * (1 / n1 + 1 / n2))
        expect[pair] = (
            n1, x1, n2, x2,
            x1 * 1_000_000 // n1, x2 * 1_000_000 // n2,
            math.floor(z * 1000.0), int(abs(z) > 1.96),
        )
    got = {
        r.pair: (
            r.n1, r.x1, r.n2, r.x2, r.cvr1_ppm, r.cvr2_ppm,
            r.z_milli, r.false_positive,
        )
        for r in mlmetrics.aa_test_calibration(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) >= 2  # metric must stay unsaturated at the test SF
    # A/A should be mostly null: not every pair a false positive
    assert sum(v[7] for v in got.values()) < len(got)


def test_mutual_nn_pairs_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").collect()

    def cos(u, v):
        num = sum(float(a) * float(b) for a, b in zip(u, v))
        na = sum(float(a) * float(a) for a in u) ** 0.5
        nb = sum(float(b) * float(b) for b in v) ** 0.5
        return num / (na * nb)

    by_label: dict = defaultdict(lambda: ([], []))
    for r in emb:
        by_label[r.label][r.vec_id % 2].append((r.vec_id, r.embedding))
    expect = {}
    for label, (evens, odds) in by_label.items():
        if not evens or not odds:
            continue
        nn_ab, nn_ba, sims = {}, {}, {}
        for aid, av in evens:
            best = max(odds, key=lambda bo: (cos(av, bo[1]), -bo[0]))
            nn_ab[aid] = best[0]
            sims[aid] = max(cos(av, bo[1]) for bo in odds)
        for bid, bv in odds:
            best = max(evens, key=lambda ao: (cos(bv, ao[1]), -ao[0]))
            nn_ba[bid] = best[0]
        for aid, bid in nn_ab.items():
            if nn_ba.get(bid) == aid:
                expect[(aid, bid)] = round(sims[aid], 6)
    got = {
        (r.a_id, r.b_id): r.cosine
        for r in similarity.mutual_nn_pairs(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for k in got:
        assert abs(got[k] - expect[k]) < 2e-6
    # mutuality must actually prune one-directional matches
    assert len(got) > 0


def test_price_consistency_audit_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").collect()
    units: dict = defaultdict(list)
    for r in li:
        pc = _cents(r.l_extendedprice) * 100
        qc = _cents(r.l_quantity)
        units[r.l_partkey].append(pc // qc)
    scored = []
    for pk, xs in units.items():
        if len(xs) < 5:
            continue
        n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
        disp = math.floor((float(n) * sxx - float(sx) * sx) / (float(sx) * sx) * 1e6)
        scored.append((pk, n, sx // n, disp))
    scored.sort(key=lambda t: (-t[3], t[0]))
    expect = scored[:15]
    got = [
        (r.l_partkey, r.n_lines, r.mean_unit_cents, r.dispersion_ppm)
        for r in relational.price_consistency_audit(spark, sf_dir).collect()
    ]
    assert got == expect
    assert got[0][3] > 0  # the fixture must exhibit real price dispersion


def test_jaccard_threshold_profile_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import dedup

    pairs = [
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir, 0.57).collect()
    ]

    def replay(thresholds):
        expect = {}
        for t in thresholds:
            sel = [(a, b) for a, b, j in pairs if j >= t]
            deg: dict = defaultdict(int)
            for a, b in sel:
                deg[a] += 1
                deg[b] += 1
            expect[int(round(t * 100))] = (
                len(sel),
                len(deg),
                max(deg.values()) if deg else 0,
            )
        return expect

    def profile(**kw):
        return {
            r.threshold_pct: (r.n_pairs, r.n_docs, r.max_degree)
            for r in dedup.jaccard_threshold_profile(spark, sf_dir, **kw).collect()
        }

    got = profile()
    assert got == replay((0.7, 0.8, 0.9))
    # looser thresholds must dominate tighter ones
    assert got[70][0] >= got[80][0] >= got[90][0]
    assert got[70][0] > 0
    # 0.57 * 100 is 56.99... in binary floating point: the reported
    # percent must still be 57
    assert profile(thresholds=(0.57,)) == replay((0.57,))
    assert list(replay((0.57,))) == [57]


def test_skipgram_pmi_replay(spark, sf_dir):
    import math
    from collections import Counter

    from parquet_to_csv_spark.operators import text as textops

    pairs: Counter = Counter()
    for r in load_table(spark, sf_dir, "documents").collect():
        toks = [t for t in r.text.lower().split() if t]
        for d in (1, 2, 3):
            pairs.update(zip(toks, toks[d:]))
    cl: Counter = Counter()
    cr: Counter = Counter()
    for (w1, w2), c in pairs.items():
        cl[w1] += c
        cr[w2] += c
    t = sum(pairs.values())

    def u(x: int) -> int:
        return int(round(math.log(x) * 1e6))

    scored = [
        (w1, w2, c, u(c) + u(t) - u(cl[w1]) - u(cr[w2]))
        for (w1, w2), c in pairs.items()
        if c >= 30
    ]
    scored.sort(key=lambda x: (-x[3], x[0], x[1]))
    expect = scored[:20]
    got = [
        (r.w1, r.w2, r.c, r.pmi_micro)
        for r in textops.skipgram_pmi(spark, sf_dir).collect()
    ]
    assert got == expect
    assert len(got) == 20


def test_late_event_profile_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import timeops as tops

    import hashlib

    def jit(eid: int) -> int:
        return int(hashlib.md5(str(eid).encode()).hexdigest()[:4], 16) % 600_000

    ev = sorted(
        (r.ts // 1_000_000 + jit(r.event_id), r.event_id, r.ts // 1_000_000)
        for r in load_table(spark, sf_dir, "events").collect()
    )
    expect = {}
    for lat in (0, 300_000, 1_800_000):
        run_max = None
        n_late = 0
        for _, _, ts_ms in ev:
            if run_max is not None and ts_ms < run_max - lat:
                n_late += 1
            run_max = ts_ms if run_max is None else max(run_max, ts_ms)
        expect[lat] = (len(ev), n_late, n_late * 1_000_000 // len(ev))
    got = {
        r.lateness_ms: (r.n_events, r.n_late, r.late_ppm)
        for r in tops.late_event_profile(spark, sf_dir).collect()
    }
    assert got == expect
    # longer allowed lateness can only drop fewer events
    assert got[0][1] >= got[300_000][1] >= got[1_800_000][1]
    assert got[0][1] > 0  # out-of-order arrivals must exist in the fixture


def test_tfidf_cosine_pairs_replay(spark, sf_dir):
    import math
    from collections import Counter

    from parquet_to_csv_spark.operators import text as textops

    docs = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    n = len(docs)
    tf = {d: Counter(t) for d, t in docs.items()}
    df: Counter = Counter()
    for c in tf.values():
        df.update(c.keys())
    w: dict = defaultdict(dict)
    for d, c in tf.items():
        for t, cnt in c.items():
            if df[t] <= 50:
                w[d][t] = cnt * int(round(math.log(n / df[t]) * 1000))
    norms = {d: sum(v * v for v in ws.values()) for d, ws in w.items()}
    ids = sorted(w)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = set(w[a]) & set(w[b])
            if not shared:
                continue
            dot = sum(w[a][t] * w[b][t] for t in shared)
            cos = round(dot / (math.sqrt(norms[a]) * math.sqrt(norms[b])), 6)
            if cos >= 0.3:
                expect[(a, b)] = cos
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in textops.tfidf_cosine_pairs(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for k in got:
        assert abs(got[k] - expect[k]) < 2e-6
    assert got, "fixture must contain tfidf-similar pairs at the threshold"


def test_group_quota_sample_replay(spark, sf_dir):
    import hashlib

    from parquet_to_csv_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents").collect()
    strata: dict = defaultdict(list)
    for r in docs:
        strata[r.lang].append(r.doc_id)
    n_tot = len(docs)
    base = []
    for lang, ids in strata.items():
        fq, rem = len(ids) * 100 // n_tot, len(ids) * 100 % n_tot
        base.append((lang, len(ids), fq, rem))
    short = 100 - sum(b[2] for b in base)
    base.sort(key=lambda b: (-b[3], b[0]))
    quotas = {
        lang: fq + (1 if i < short else 0)
        for i, (lang, _, fq, _) in enumerate(base)
    }
    expect = {}
    for lang, ids in strata.items():
        q = quotas[lang]
        ordered = sorted(ids, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
        sampled = ordered[:q]
        expect[lang] = (len(ids), q, len(sampled), min(sampled) if sampled else None)
    got = {
        r.lang: (r.n_docs, r.quota, r.n_sampled, r.first_doc)
        for r in corpus.group_quota_sample(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(v[1] for v in got.values()) == 100  # exact budget
    assert all(v[2] == v[1] for v in got.values())  # quotas fully drawable


def test_holt_linear_forecast_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import pandas_ops

    ev = load_table(spark, sf_dir, "events").collect()
    daily: dict = defaultdict(lambda: defaultdict(int))
    for r in ev:
        daily[r.event_type][r.ts // 86_400_000_000_000] += _cents(r.value)
    expect = {}
    for et, days in daily.items():
        ys = [float(days[d]) for d in sorted(days)]
        if len(ys) < 2:
            expect[et] = (len(ys), round((ys[0] if ys else 0) / 100, 4), 0.0,
                          round((ys[0] if ys else 0) / 100, 4), 0.0)
            continue
        lvl, tr, sse = ys[0], ys[1] - ys[0], 0.0
        for y in ys[1:]:
            pred = lvl + tr
            sse += (y - pred) * (y - pred)
            new_lvl = 0.5 * y + 0.5 * (lvl + tr)
            tr = 0.3 * (new_lvl - lvl) + 0.7 * tr
            lvl = new_lvl
        expect[et] = (
            len(ys), round(lvl / 100, 4), round(tr / 100, 4),
            round((lvl + tr) / 100, 4), round(sse / 10000, 2),
        )
    got = {
        r.event_type: (r.n_days, r.level_v, r.trend_v, r.forecast_v, r.sse_v2)
        for r in pandas_ops.holt_linear_forecast(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for et in got:
        g, e = got[et], expect[et]
        assert g[0] == e[0]
        for gv, ev_ in zip(g[1:], e[1:]):
            assert abs(gv - ev_) < 1e-6, (et, g, e)
    assert all(g[0] >= 2 for g in got.values())


def test_blocking_recall_audit_replay(spark, sf_dir):
    import hashlib

    from parquet_to_csv_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").collect()
    sample = [
        r for r in docs
        if int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:4], 16) % 100 < 10
    ]
    toks = {r.doc_id: set(t for t in r.text.lower().split() if t) for r in sample}
    n_true = n_within = 0
    for i, a in enumerate(sample):
        for b in sample[i + 1:]:
            x, y = (a, b) if a.doc_id < b.doc_id else (b, a)
            ta, tb = toks[x.doc_id], toks[y.doc_id]
            inter = len(ta & tb)
            j = round(inter / (len(ta) + len(tb) - inter), 4)
            if j >= 0.8:
                n_true += 1
                n_within += (x.lang == y.lang) and (x.source == y.source)
    row = dedup.blocking_recall_audit(spark, sf_dir).collect()[0]
    assert row.n_sample_docs == len(sample)
    assert (row.n_true_pairs, row.n_within_block) == (n_true, n_within)
    assert row.n_cross_block == n_true - n_within
    assert row.missed_ppm == (
        (n_true - n_within) * 1_000_000 // n_true if n_true else 0
    )


def test_quality_token_tradeoff_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents").collect()
    scored = []
    for r in docs:
        toks = [t for t in r.text.lower().split() if t]
        if not toks:
            continue
        scored.append((len(set(toks)) * 1_000_000 // len(toks), r.doc_id, len(toks)))
    scored.sort(key=lambda t: (-t[0], t[1]))
    n = len(scored)
    per_dec: dict = defaultdict(lambda: [0, 0, None])
    for i, (sc, _, nt) in enumerate(scored):
        d = i * 10 // n
        per_dec[d][0] += 1
        per_dec[d][1] += nt
        per_dec[d][2] = sc if per_dec[d][2] is None else min(per_dec[d][2], sc)
    all_tokens = sum(v[1] for v in per_dec.values())
    cum = 0
    expect = {}
    for d in sorted(per_dec):
        cum += per_dec[d][1]
        expect[d] = (
            per_dec[d][0], per_dec[d][1], per_dec[d][2], cum,
            cum * 1_000_000 // all_tokens,
        )
    got = {
        r.decile: (r.n_docs, r.decile_tokens, r.min_score_ppm, r.cum_tokens, r.cum_token_ppm)
        for r in corpus.quality_token_tradeoff(spark, sf_dir).collect()
    }
    assert got == expect
    assert got[9][4] == 1_000_000  # the full corpus is the last cumulative point


def test_adamic_adar_links_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").collect()
    orders: dict = defaultdict(set)
    for r in li:
        orders[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in orders.values():
        ps = sorted(parts)
        for i, x in enumerate(ps):
            for y in ps[i + 1:]:
                edges.add((x, y))
    nbrs: dict = defaultdict(set)
    for x, y in edges:
        nbrs[x].add(y)
        nbrs[y].add(x)
    scores: dict = defaultdict(lambda: [0, 0])
    for z, xs in nbrs.items():
        d = len(xs)
        if d > 50:
            continue
        u = int(round(1_000_000 / math.log(d)))
        xs_s = sorted(xs)
        for i, x1 in enumerate(xs_s):
            for x2 in xs_s[i + 1:]:
                scores[(x1, x2)][0] += u
                scores[(x1, x2)][1] += 1
    cand = [
        (a, b, s, c) for (a, b), (s, c) in scores.items() if (a, b) not in edges
    ]
    cand.sort(key=lambda t: (-t[2], t[0], t[1]))
    expect = cand[:20]
    got = [
        (r.part_a, r.part_b, r.aa_micro, r.n_common)
        for r in relational.adamic_adar_links(spark, sf_dir).collect()
    ]
    assert got == expect
    assert len(got) == 20


def test_parquet_footer_stats_cross_engine(spark, sf_dir):
    import duckdb

    from parquet_to_csv_spark.sources import layout

    got = {
        r.column_name: (r.n_values, r.compressed_bytes, r.uncompressed_bytes, r.compression_ppm)
        for r in layout.parquet_footer_stats(spark, sf_dir).collect()
    }
    expect = {
        row[0]: (row[1], row[2], row[3], row[2] * 1_000_000 // row[3])
        for row in duckdb.sql(
            f"""SELECT path_in_schema, sum(num_values),
                       sum(total_compressed_size), sum(total_uncompressed_size)
                FROM parquet_metadata('{sf_dir}/lineitem.parquet') GROUP BY 1"""
        ).fetchall()
    }
    assert got == expect
    assert len(got) >= 10  # all lineitem columns present
    # compression must actually compress at least one column
    assert any(v[3] < 1_000_000 for v in got.values())


def test_spc_control_limits_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import relational

    orders = load_table(spark, sf_dir, "orders").collect()
    monthly: dict = defaultdict(int)
    for r in orders:
        ym = r.o_orderdate.year * 100 + r.o_orderdate.month
        monthly[ym] += _cents(r.o_totalprice)
    yms = sorted(monthly)
    mrs = [abs(monthly[b] - monthly[a]) for a, b in zip(yms, yms[1:])]
    center = sum(monthly.values()) / len(yms)
    mrbar = sum(mrs) / len(mrs)
    ucl = math.floor(center + 2.66 * mrbar)
    lcl = math.floor(center - 2.66 * mrbar)
    cc = math.floor(center)
    expect = {}
    prev = None
    for ym in yms:
        mr = abs(monthly[ym] - monthly[prev]) if prev is not None else None
        expect[ym] = (
            monthly[ym], mr, cc, ucl, lcl,
            int(monthly[ym] > ucl or monthly[ym] < lcl),
        )
        prev = ym
    got = {
        r.ym: (r.rev_cents, r.mr, r.center_cents, r.ucl_cents, r.lcl_cents, r.out_of_control)
        for r in relational.spc_control_limits(spark, sf_dir).collect()
    }
    assert got == expect


def test_chunk_dedup_report_replay(spark, sf_dir):
    import hashlib

    from parquet_to_csv_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents").collect()
    per_fp: dict = defaultdict(lambda: [0, set()])
    for r in docs:
        toks = [t for t in r.text.lower().split() if t]
        for s in range(0, max(len(toks), 1), 48):
            chunk = toks[s:s + 64]
            if not chunk:
                continue
            h = hashlib.md5(" ".join(chunk).encode()).hexdigest()
            per_fp[(r.source, h)][0] += 1
            per_fp[(r.source, h)][1].add(r.doc_id)
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for (src, _), (n_occ, docset) in per_fp.items():
        agg[src][0] += n_occ
        agg[src][1] += 1
        agg[src][2] += len(docset) > 1
    expect = {
        src: (n, d, (n - d) * 1_000_000 // n, x) for src, (n, d, x) in agg.items()
    }
    got = {
        r.source: (r.n_chunks, r.n_distinct_chunks, r.dup_ppm, r.n_cross_doc_chunks)
        for r in corpus.chunk_dedup_report(spark, sf_dir).collect()
    }
    assert got == expect


def test_sort_key_advisor_replay(spark, sf_dir):
    from parquet_to_csv_spark.sources import layout

    li = load_table(spark, sf_dir, "lineitem").collect()
    n = len(li)
    cands = {
        "ship_day": [int(r.l_shipdate.timestamp() * 1000) // 86_400_000 for r in li],
        "l_partkey": [r.l_partkey for r in li],
        "l_suppkey": [r.l_suppkey for r in li],
        "l_orderkey": [r.l_orderkey for r in li],
        "l_returnflag": [r.l_returnflag for r in li],
        "l_linestatus": [r.l_linestatus for r in li],
    }
    expect = {
        name: (len(set(v)), n // len(set(v)), len(set(v)) * 1_000_000 // n)
        for name, v in cands.items()
    }
    got = {
        r.column_name: (r.n_distinct, r.expected_run_len, r.density_ppm)
        for r in layout.sort_key_advisor(spark, sf_dir).collect()
    }
    assert got == expect
    # flag columns must show the long-run payoff the advisor exists to expose
    assert got["l_returnflag"][1] > got["l_orderkey"][1]


def test_daily_acf_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    daily: dict = defaultdict(int)
    for r in ev:
        daily[r.ts // 86_400_000_000_000] += _cents(r.value)
    expect = {}
    for lag in range(1, 8):
        pairs = [
            (daily[d], daily[d + lag]) for d in daily if d + lag in daily
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(z for _, z in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(z * z for _, z in pairs)
        sxy = sum(x * z for x, z in pairs)
        num = float(n) * sxy - float(sx) * sy
        den = math.sqrt(
            (float(n) * sxx - float(sx) * sx) * (float(n) * syy - float(sy) * sy)
        )
        expect[lag] = (n, math.floor(num / den * 1e6))
    got = {
        r.lag: (r.n, r.acf_micro) for r in tops.daily_acf(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) == 7


def test_hill_tail_index_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import mlmetrics

    orders = sorted(
        ((_cents(r.o_totalprice), r.o_orderkey) for r in load_table(spark, sf_dir, "orders").collect()),
        key=lambda t: (-t[0], t[1]),
    )
    k = 200
    xk = orders[k][0]
    log_sum = sum(
        int(round(math.log(c / xk) * 1e6)) for c, _ in orders[:k]
    )
    row = mlmetrics.hill_tail_index(spark, sf_dir).collect()[0]
    assert row.k == k
    assert row.log_sum_micro == log_sum
    assert row.alpha_micro == k * 1_000_000_000_000 // log_sum
    # order totals are NOT heavy-tailed in TPC-H-shaped data: alpha >> 2
    assert row.alpha_micro > 2_000_000


def test_receivables_aging_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    orders = load_table(spark, sf_dir, "orders").collect()
    cust = {r.c_custkey: r.c_nationkey for r in load_table(spark, sf_dir, "customer").collect()}
    nation = {r.n_nationkey: r.n_name for r in load_table(spark, sf_dir, "nation").collect()}
    anchor = max(int(r.o_orderdate.timestamp() * 1000) // 86_400_000 for r in orders)
    agg: dict = defaultdict(lambda: [0, 0])
    for r in orders:
        if r.o_orderstatus == "F":
            continue
        age = anchor - int(r.o_orderdate.timestamp() * 1000) // 86_400_000
        b = "0-30" if age <= 30 else "31-60" if age <= 60 else "61-90" if age <= 90 else "90+"
        key = (nation[cust[r.o_custkey]], b)
        agg[key][0] += 1
        agg[key][1] += _cents(r.o_totalprice)
    expect = {k: (n, c / 100.0) for k, (n, c) in agg.items()}
    got = {
        (r.n_name, r.bucket): (r.n_orders, r.outstanding)
        for r in relational.receivables_aging(spark, sf_dir).collect()
    }
    assert got == expect
    assert len({b for _, b in got}) >= 2  # multiple buckets populated


def test_simpsons_check_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import mlmetrics

    ev = load_table(spark, sf_dir, "events").collect()
    tot: dict = defaultdict(int)
    for r in ev:
        tot[r.user_id] += _cents(r.value)
    users = sorted(tot, key=lambda u: (tot[u], u))
    n = len(users)
    stratum = {}
    # replicate SQL ntile(5): first (n % 5) tiles get ceil(n/5)
    base, extra = divmod(n, 5)
    idx = 0
    for t in range(1, 6):
        size = base + (1 if t <= extra else 0)
        for u in users[idx:idx + size]:
            stratum[u] = t
        idx += size
    arms: dict = defaultdict(lambda: [0, 0, 0, 0, 0])  # we_c, we_n, wd_c, wd_n, n
    for r in ev:
        if r.event_type != "purchase":
            continue
        dow = ((r.ts // 86_400_000_000_000) + 4) % 7
        for label in (str(stratum[r.user_id]), "overall"):
            a = arms[label]
            if dow >= 5:
                a[0] += _cents(r.value)
                a[1] += 1
            else:
                a[2] += _cents(r.value)
                a[3] += 1
            a[4] += 1
    means = {
        k: (v[0] // max(v[1], 1), v[2] // max(v[3], 1), v[4])
        for k, v in arms.items()
    }
    o_sign = (means["overall"][0] > means["overall"][1]) - (
        means["overall"][0] < means["overall"][1]
    )
    expect = {
        k: (v[2], v[0], v[1], int((((v[0] > v[1]) - (v[0] < v[1])) * o_sign) < 0))
        for k, v in means.items()
    }
    got = {
        r.stratum_label: (r.n_purchases, r.we_mean_cents, r.wd_mean_cents, r.sign_reversal)
        for r in mlmetrics.simpsons_check(spark, sf_dir).collect()
    }
    assert got == expect
    assert "overall" in got and len(got) == 6


def test_streaming_upsert_drain_matches_batch(spark, sf_dir):
    from parquet_to_csv_spark.streaming import stream as st

    ev = load_table(spark, sf_dir, "events").collect()
    latest: dict = {}
    for r in ev:
        key = (r.ts // 1000, r.event_id)
        if r.user_id not in latest or key > latest[r.user_id][0]:
            latest[r.user_id] = (key, _cents(r.value))
    expect = {
        uid: (k[0], k[1], c / 100.0) for uid, (k, c) in latest.items()
    }
    got = {
        r.user_id: (r.last_ts_us, r.last_event_id, r.last_value)
        for r in st.upsert_drain_query(spark, sf_dir).collect()
    }
    assert got == expect


def test_asof_nearest_join_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import rangejoin

    ev = load_table(spark, sf_dir, "events").collect()
    clicks: dict = defaultdict(list)
    for r in ev:
        if r.event_type == "click":
            clicks[r.user_id].append((r.ts // 1000, r.event_id))
    TOL = 3_600_000_000
    expect = {}
    for r in ev:
        if r.event_type != "error":
            continue
        e_us = r.ts // 1000
        cands = [
            (abs(e_us - cus), cus, cid)
            for cus, cid in clicks.get(r.user_id, [])
            if abs(e_us - cus) <= TOL
        ]
        if cands:
            gap, cus, cid = min(cands)
            expect[r.event_id] = (r.user_id, e_us, cid, cus, gap)
    got = {
        r.error_id: (r.user_id, r.e_us, r.click_id, r.click_us, r.gap_us)
        for r in rangejoin.asof_nearest_join(spark, sf_dir).collect()
    }
    assert got == expect
    assert got, "fixture must contain error-click pairs within the hour"
    # nearest must include at least one FORWARD match (a click after the
    # error) — otherwise backward as-of would have sufficed
    assert any(cus > eus for _, eus, _, cus, _ in got.values())


def test_circadian_profile_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for r in ev:
        h = (r.ts // 3_600_000_000_000) % 24
        a = agg[r.event_type]
        a[0] += 1
        a[1] += int(round(math.cos(h * math.pi / 12) * 1e6))
        a[2] += int(round(math.sin(h * math.pi / 12) * 1e6))
    expect = {}
    for et, (n, sc, ss) in agg.items():
        ang = math.atan2(ss, sc)
        r_ = math.sqrt(float(sc) * sc + float(ss) * ss) / (n * 1e6)
        expect[et] = (n, math.floor(ang * 1e6), math.floor(r_ * 1e6))
    got = {
        r.event_type: (r.n, r.mean_angle_micro, r.resultant_ppm)
        for r in tops.circadian_profile(spark, sf_dir).collect()
    }
    assert got == expect
    # uniform-ish synthetic activity: R must be small but well-defined
    assert all(0 <= v[2] <= 1_000_000 for v in got.values())


def test_retrieval_diversity_report_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import similarity

    topk = similarity.cosine_topk(spark, sf_dir, n_queries=5, k=10).collect()
    emb = {
        r.vec_id: (r.embedding, r.label)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(u, v):
        num = sum(float(a) * float(b) for a, b in zip(u, v))
        na = sum(float(a) * float(a) for a in u) ** 0.5
        nb = sum(float(b) * float(b) for b in v) ** 0.5
        return num / (na * nb)

    by_q: dict = defaultdict(list)
    for r in topk:
        by_q[r.query_id].append(r.cand_id)
    expect = {}
    for q, cands in by_q.items():
        us = []
        cs = sorted(cands)
        for i, ca in enumerate(cs):
            for cb in cs[i + 1:]:
                us.append(int(round(round(cos(emb[ca][0], emb[cb][0]), 6) * 1e6)))
        labels = len({emb[c][1] for c in cands})
        expect[q] = (len(cands), labels, len(us), sum(us) // len(us))
    got = {
        r.query_id: (r.k_returned, r.n_labels, r.n_pairs, r.mean_pair_cosine_micro)
        for r in similarity.retrieval_diversity_report(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(v[2] == v[0] * (v[0] - 1) // 2 for v in got.values())


def test_mmr_rerank_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import similarity

    topk = similarity.cosine_topk(spark, sf_dir, n_queries=5, k=10).collect()
    emb = {r.vec_id: r.embedding for r in load_table(spark, sf_dir, "embeddings").collect()}

    def cos(u, v):
        num = sum(float(a) * float(b) for a, b in zip(u, v))
        na = sum(float(a) * float(a) for a in u) ** 0.5
        nb = sum(float(b) * float(b) for b in v) ** 0.5
        return num / (na * nb)

    by_q: dict = defaultdict(dict)
    orig: dict = defaultdict(dict)
    for r in topk:
        by_q[r.query_id][r.cand_id] = int(round(r.cosine * 1e6))
        orig[r.query_id][r.cand_id] = r.rnk
    expect = {}
    for q, simq in by_q.items():
        pu = {
            (a, b): int(round(round(cos(emb[a], emb[b]), 6) * 1e6))
            for a in simq for b in simq if a != b
        }
        remaining, selected = set(simq), []
        rank = 0
        while remaining:
            if not selected:
                scores = {c: 7 * simq[c] for c in remaining}
            else:
                scores = {
                    c: 7 * simq[c] - 3 * max(pu[(c, s)] for s in selected)
                    for c in remaining
                }
            best = min(remaining, key=lambda c: (-scores[c], c))
            rank += 1
            expect[(q, best)] = (orig[q][best], rank)
            selected.append(best)
            remaining.discard(best)
    got = {
        (r.query_id, r.cand_id): (r.orig_rank, r.mmr_rank)
        for r in similarity.mmr_rerank(spark, sf_dir).collect()
    }
    assert got == expect
    # MMR must actually move something (otherwise the re-ranker is inert)
    assert any(o != m for o, m in got.values())


def test_abc_classification_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").collect()
    rev: dict = defaultdict(int)
    for r in li:
        u = int(r.l_extendedprice * (1 - r.l_discount) * 10000 + 0.5)
        rev[r.l_partkey] += u
    ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(rev.values())
    cum = 0
    expect = {}
    for i, (pk, u) in enumerate(ranked):
        cum += u
        cls = "A" if cum * 100 <= total * 80 else "B" if cum * 100 <= total * 95 else "C"
        expect[pk] = (u / 100.0 / 100.0, i + 1, cum // (total // 1_000_000), cls)
    got = {
        r.l_partkey: (r.revenue, r.rev_rank, r.cum_ppm, r.abc_class)
        for r in relational.abc_classification(spark, sf_dir).collect()
    }
    assert got == expect
    classes = {c for _, _, _, c in got.values()}
    assert classes == {"A", "B", "C"}


def test_dau_mau_stickiness_replay(spark, sf_dir):
    import datetime

    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    daily: dict = defaultdict(set)
    monthly: dict = defaultdict(set)
    for r in ev:
        day = r.ts // 86_400_000_000_000
        d = datetime.datetime.fromtimestamp(day * 86400, datetime.timezone.utc)
        ym = d.year * 100 + d.month
        daily[(ym, day)].add(r.user_id)
        monthly[ym].add(r.user_id)
    dsum: dict = defaultdict(lambda: [0, 0])
    for (ym, _), users in daily.items():
        dsum[ym][0] += 1
        dsum[ym][1] += len(users)
    expect = {
        ym: (
            nd, len(monthly[ym]), tot // nd,
            tot * 1_000_000 // (nd * len(monthly[ym])),
        )
        for ym, (nd, tot) in dsum.items()
    }
    got = {
        r.ym: (r.n_days, r.mau, r.avg_dau, r.stickiness_ppm)
        for r in tops.dau_mau_stickiness(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(0 < v[3] <= 1_000_000 for v in got.values())


def test_order_fill_rate_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").collect()
    days = [int(r.l_shipdate.timestamp() * 1000) // 86_400_000 for r in li]
    anchor = max(days) - 30
    per_order: dict = defaultdict(lambda: [0, 0])
    for r, d in zip(li, days):
        per_order[r.l_orderkey][0] += 1
        per_order[r.l_orderkey][1] += d <= anchor
    prio = {r.o_orderkey: r.o_orderpriority for r in load_table(spark, sf_dir, "orders").collect()}
    agg: dict = defaultdict(int)
    for ok, (n, s) in per_order.items():
        band = "0%" if s == 0 else "1-49%" if s * 2 < n else "50-99%" if s < n else "100%"
        agg[(prio[ok], band)] += 1
    got = {
        (r.o_orderpriority, r.fill_band): r.n_orders
        for r in relational.order_fill_rate(spark, sf_dir).collect()
    }
    assert got == dict(agg)
    assert len({b for _, b in got}) >= 3  # partial-fill bands populated


def test_importance_weighted_stats_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import mlmetrics

    docs = load_table(spark, sf_dir, "documents").collect()
    n_tot = len(docs)
    langs: dict = defaultdict(int)
    for r in docs:
        langs[r.lang] += 1
    k = len(langs)
    groups: dict = defaultdict(lambda: [0, 0, 0, 0])
    for r in docs:
        w = n_tot * 1_000_000 // (k * langs[r.lang])
        for g in (r.lang, "overall"):
            a = groups[g]
            a[0] += 1
            a[1] += w
            a[2] += w * w
            a[3] += w * r.n_chars
    expect = {
        g: (
            n, swx // sw,
            math.floor((float(sw) * sw) / (float(n) * sww) * 1e6),
        )
        for g, (n, sw, sww, swx) in groups.items()
    }
    got = {
        r.grp: (r.n, r.weighted_mean_chars, r.ess_ratio_ppm)
        for r in mlmetrics.importance_weighted_stats(spark, sf_dir).collect()
    }
    assert got == expect
    # per-lang ESS is 1.0 (uniform weights within a class); overall < 1
    assert got["overall"][2] < 1_000_000
    for g, v in got.items():
        if g != "overall":
            assert v[2] == 1_000_000


def test_matched_pairs_diff_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import mlmetrics

    ev = load_table(spark, sf_dir, "events").collect()
    act: dict = defaultdict(int)
    for r in ev:
        act[r.user_id] += 1
    t, c = [], []
    for r in ev:
        if r.event_type != "purchase":
            continue
        weekend = ((r.ts // 86_400_000_000_000) + 4) % 7 >= 5
        rec = (r.event_id, _cents(r.value), act[r.user_id])
        (t if weekend else c).append(rec)
    diffs = []
    for t_id, t_cents, t_act in t:
        cands = [
            (abs(t_act - c_act), c_id, c_cents)
            for c_id, c_cents, c_act in c
            if abs(t_act - c_act) <= 8
        ]
        if cands:
            _, _, c_cents = min(cands)
            diffs.append(t_cents - c_cents)
    row = mlmetrics.matched_pairs_diff(spark, sf_dir).collect()[0]
    assert row.n_matched == len(diffs)
    assert row.mean_diff_cents == sum(diffs) // len(diffs)
    assert row.n_positive == sum(1 for d in diffs if d > 0)
    assert row.n_negative == sum(1 for d in diffs if d < 0)
    assert row.n_matched > 10


def test_substitution_savings_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    parts = load_table(spark, sf_dir, "part").collect()
    fam: dict = defaultdict(lambda: [set(), 0, None, None, 0])
    for r in parts:
        c = _cents(r.p_retailprice)
        a = fam[(r.p_type, r.p_size)]
        a[0].add(r.p_brand)
        a[1] += 1
        a[2] = c if a[2] is None else min(a[2], c)
        a[3] = c if a[3] is None else max(a[3], c)
        a[4] += c
    expect = {}
    for k, (brands, n, mn, mx, sm) in fam.items():
        if len(brands) < 2:
            continue
        avg = sm // n
        expect[k] = (
            len(brands), n, mn / 100.0, mx / 100.0, avg,
            (avg - mn) * 1_000_000 // max(avg, 1),
        )
    got = {
        (r.p_type, r.p_size): (
            r.n_brands, r.n_parts, r.cheapest, r.dearest, r.avg_cents, r.savings_ppm
        )
        for r in relational.substitution_savings(spark, sf_dir).collect()
    }
    assert got == expect
    assert got, "multi-brand part families must exist"


def test_dow_type_residuals_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    cells: dict = defaultdict(int)
    rows_: dict = defaultdict(int)
    cols: dict = defaultdict(int)
    for r in ev:
        dow = ((r.ts // 86_400_000_000_000) + 4) % 7
        cells[(dow, r.event_type)] += 1
        rows_[dow] += 1
        cols[r.event_type] += 1
    n = len(ev)
    expect = {}
    for (dow, et), o in cells.items():
        r_, c = rows_[dow], cols[et]
        resid = (o - r_ * c / n) / math.sqrt(r_ * c / n)
        rm = math.floor(resid * 1000.0)
        expect[(dow, et)] = (o, r_ * c // n, rm, int(abs(rm) > 2000))
    got = {
        (r.dow, r.event_type): (r.o, r.expected, r.resid_milli, r.significant)
        for r in tops.dow_type_residuals(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) == len(cells)


def test_neardup_evidence_replay(spark, sf_dir):
    from collections import Counter

    from parquet_to_csv_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").collect()

    g = {
        r.doc_id: {t for t in r.text.lower().split() if t} for r in docs
    }
    gdf: Counter = Counter()
    for ts in g.values():
        gdf.update(ts)
    pairs = sorted(
        (
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8).collect()
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:10]
    expect = {}
    for a, b, j in pairs:
        shared = sorted(g[a] & g[b], key=lambda s: (gdf[s], s))
        for rank, gram in enumerate(shared[:3], 1):
            expect[(a, b, rank)] = (j, gram, gdf[gram])
    got = {
        (r.doc_a, r.doc_b, r.evidence_rank): (r.jaccard, r.token, r.df_docs)
        for r in dedup.neardup_evidence(spark, sf_dir).collect()
    }
    assert got == expect
    assert got, "top near-dup pairs must produce shared-gram evidence"


def test_error_burst_sessions_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    by_user: dict = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts // 1000, r.event_type, _cents(r.value)))
    expect = {}
    for uid, rows in by_user.items():
        rows.sort()
        sess: list = []
        prev = None
        for tus, et, c in rows:
            if prev is None or tus - prev >= 1_800_000_000:
                sess.append([])
            sess[-1].append((tus, et, c))
            prev = tus
        for s in sess:
            n = len(s)
            ne = sum(1 for _, et, _ in s if et == "error")
            if n >= 2 and ne >= 1:
                expect[(uid, s[0][0])] = (
                    n, ne, ne * 1_000_000 // n,
                    sum(c for _, _, c in s) / 100.0,
                )
    got = {
        (r.user_id, r.session_start_us): (
            r.n_events, r.n_errors, r.error_ppm, r.session_value
        )
        for r in tops.error_burst_sessions(spark, sf_dir).collect()
    }
    assert got == expect
    assert got, "error-interrupted sessions must exist in the fixture"


def test_discount_leakage_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").collect()
    part = {
        r.p_partkey: (r.p_brand, _cents(r.p_retailprice))
        for r in load_table(spark, sf_dir, "part").collect()
    }
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for r in li:
        brand, retail_c = part[r.l_partkey]
        qty_c = _cents(r.l_quantity)
        real_u = int(r.l_extendedprice * (1 - r.l_discount) * 10000 + 0.5)
        a = agg[brand]
        a[0] += 1
        a[1] += retail_c * qty_c // 100
        a[2] += real_u // 100
    def tdiv(a, b):  # Spark `div` truncates toward zero (unlike Python //)
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    expect = {
        b: (n, lc / 100.0, rc / 100.0, tdiv(lc - rc, lc // 1_000_000))
        for b, (n, lc, rc) in agg.items()
    }
    got = {
        r.p_brand: (r.n_lines, r.list_value, r.realized_value, r.leakage_ppm)
        for r in relational.discount_leakage(spark, sf_dir).collect()
    }
    assert got == expect
    # the gap between list and realized is non-zero for every brand
    # (in this synthetic fixture extendedprice exceeds retail×qty, so
    # the "leakage" is uniformly negative — a markup, not a discount)
    assert all(v[3] != 0 for v in got.values())


def test_supplier_concentration_profile_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").collect()
    per_ps: dict = defaultdict(int)
    for r in li:
        per_ps[(r.l_partkey, r.l_suppkey)] += int(
            r.l_extendedprice * (1 - r.l_discount) * 10000 + 0.5
        )
    per_part: dict = defaultdict(lambda: [0, 0, 0])
    for (pk, _), rev in per_ps.items():
        a = per_part[pk]
        a[0] += 1
        a[1] = max(a[1], rev)
        a[2] += rev
    ptype = {r.p_partkey: r.p_type for r in load_table(spark, sf_dir, "part").collect()}
    agg: dict = defaultdict(lambda: [0, None, 0, 0])
    for pk, (ns, mx, tot) in per_part.items():
        dom = mx // (tot // 1_000_000)
        a = agg[ptype[pk]]
        a[0] += 1
        a[1] = ns if a[1] is None else min(a[1], ns)
        a[2] += dom
        a[3] = max(a[3], dom)
    expect = {
        t: (n, mn, s_ // n, mx) for t, (n, mn, s_, mx) in agg.items()
    }
    got = {
        r.p_type: (r.n_parts, r.min_suppliers, r.mean_dom_ppm, r.max_dom_ppm)
        for r in relational.supplier_concentration_profile(spark, sf_dir).collect()
    }
    assert got == expect
    # a dominant share is by definition at least 1/n_suppliers
    assert all(v[3] > 0 for v in got.values())


def test_incremental_join_maintenance_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    orders = load_table(spark, sf_dir, "orders").collect()
    cust = {r.c_custkey: r.c_nationkey for r in load_table(spark, sf_dir, "customer").collect()}
    nation = {r.n_nationkey: r.n_name for r in load_table(spark, sf_dir, "nation").collect()}
    agg: dict = defaultdict(lambda: [0, 0])
    for r in orders:
        nm = nation[cust[r.o_custkey]]
        agg[nm][0] += 1
        agg[nm][1] += _cents(r.o_totalprice)
    expect = {nm: (n, c / 100.0) for nm, (n, c) in agg.items()}
    got = {
        r.n_name: (r.n_orders, r.revenue)
        for r in relational.incremental_join_maintenance(spark, sf_dir).collect()
    }
    assert got == expect
    # both sides of the cutoff must be non-empty, else incrementality
    # is vacuous
    import datetime

    cut = datetime.datetime(1997, 1, 1)
    assert any(r.o_orderdate < cut for r in orders)
    assert any(r.o_orderdate >= cut for r in orders)


def test_hapax_rate_replay(spark, sf_dir):
    from collections import Counter

    from parquet_to_csv_spark.operators import text as textops

    docs = load_table(spark, sf_dir, "documents").collect()
    st: Counter = Counter()
    corpus: Counter = Counter()
    for r in docs:
        toks = [t for t in r.text.lower().split() if t]
        if len(toks) < 3:  # <3 tokens cannot form a 3-gram (round-3 fix)
            continue
        for i in range(len(toks) - 2):
            g = " ".join(toks[i:i + 3])
            st[(r.source, g)] += 1
            corpus[g] += 1
    agg: dict = defaultdict(lambda: [0, 0, 0, 0])
    for (src, g), n in st.items():
        a = agg[src]
        a[0] += 1
        a[3] += n
        if corpus[g] == 1:
            a[1] += 1
            a[2] += n
    expect = {
        src: (v, h, h * 1_000_000 // v, m, hm * 1_000_000 // m)
        for src, (v, h, hm, m) in agg.items()
    }
    got = {
        r.source: (r.vocab, r.n_hapax, r.hapax_vocab_ppm, r.gram_mass, r.hapax_mass_ppm)
        for r in textops.hapax_rate(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(v[1] > 0 for v in got.values())  # 3-gram hapaxes abound


def test_order_reconciliation_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").collect()
    per_order: dict = defaultdict(int)
    for r in li:
        u6 = int(
            r.l_extendedprice * (1 - r.l_discount) * (1 + r.l_tax) * 1_000_000 + 0.5
        )
        per_order[r.l_orderkey] += u6
    agg: dict = defaultdict(lambda: [0, 0, 0, 0, 0, 0])  # n, nolines, mism, max, sumdiff, ndiff
    for r in load_table(spark, sf_dir, "orders").collect():
        a = agg[r.o_orderstatus]
        a[0] += 1
        if r.o_orderkey not in per_order:
            a[1] += 1
            continue
        diff = abs(_cents(r.o_totalprice) * 10000 - per_order[r.o_orderkey])
        a[2] += diff > 10000
        a[3] = max(a[3], diff)
        a[4] += diff
        a[5] += 1
    expect = {
        st: (n, nl, nm, mx // 10000, sd // (nd * 10000))
        for st, (n, nl, nm, mx, sd, nd) in agg.items()
    }
    got = {
        r.o_orderstatus: (
            r.n_orders, r.n_no_lines, r.n_mismatch,
            r.max_abs_diff_cents, r.mean_abs_diff_cents,
        )
        for r in relational.order_reconciliation(spark, sf_dir).collect()
    }
    assert got == expect
    # the fixture drifts: mismatches and orphan orders both present
    assert any(v[2] > 0 for v in got.values())
    assert any(v[1] > 0 for v in got.values())


def test_abandonment_last_event_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    fv: dict = {}
    for r in ev:
        if r.event_type == "view":
            tus = r.ts // 1000
            fv[r.user_id] = min(fv.get(r.user_id, tus), tus)
    last: dict = {}
    purchased: dict = defaultdict(int)
    W = 86_400_000_000
    for r in ev:
        if r.user_id not in fv:
            continue
        tus = r.ts // 1000
        if not (fv[r.user_id] <= tus < fv[r.user_id] + W):
            continue
        key = (tus, r.event_id)
        if r.user_id not in last or key > last[r.user_id][0]:
            last[r.user_id] = (key, r.event_type)
        if r.event_type == "purchase":
            purchased[r.user_id] = 1
    nonconv = {u: t for u, (_, t) in last.items() if not purchased[u]}
    counts: dict = defaultdict(int)
    for t in nonconv.values():
        counts[t] += 1
    n_tot = len(nonconv)
    expect = {t: (n, n * 1_000_000 // n_tot) for t, n in counts.items()}
    got = {
        r.last_type: (r.n_users, r.share_ppm)
        for r in tops.abandonment_last_event(spark, sf_dir).collect()
    }
    assert got == expect
    assert n_tot > 0


def test_cross_source_dup_matrix_replay(spark, sf_dir):
    import hashlib

    from parquet_to_csv_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").collect()
    clusters: dict = defaultdict(lambda: [set(), 0])
    for r in docs:
        toks = sorted({t for t in r.text.lower().split() if t})
        fp = hashlib.md5(" ".join(toks).encode()).hexdigest()
        clusters[fp][0].add(r.source)
        clusters[fp][1] += 1
    agg: dict = defaultdict(lambda: [0, 0])
    for srcs, n in clusters.values():
        ss = sorted(srcs)
        if len(ss) < 2:
            continue
        for i, a in enumerate(ss):
            for b in ss[i + 1:]:
                agg[(a, b)][0] += 1
                agg[(a, b)][1] += n
    expect = {k: tuple(v) for k, v in agg.items()}
    got = {
        (r.source_a, r.source_b): (r.n_shared_clusters, r.docs_in_shared_clusters)
        for r in dedup.cross_source_dup_matrix(spark, sf_dir).collect()
    }
    assert got == expect
    assert got, "cross-source token-set clusters must exist"


def test_engagement_value_quadrants_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import mlmetrics

    ev = load_table(spark, sf_dir, "events").collect()
    per: dict = defaultdict(lambda: [0, 0])
    for r in ev:
        per[r.user_id][0] += 1
        per[r.user_id][1] += _cents(r.value)
    users = list(per.items())
    n = len(users)
    idx = math.floor((n - 1) * 0.5)
    med_act = sorted((a, u) for u, (a, _) in users)[idx][0]
    med_val = sorted((c, u) for u, (_, c) in users)[idx][0]
    tot = sum(c for _, (_, c) in users)
    agg: dict = defaultdict(lambda: [0, 0])
    for _, (a, c) in users:
        q = ("hi_act" if a > med_act else "lo_act") + "/" + (
            "hi_val" if c > med_val else "lo_val"
        )
        agg[q][0] += 1
        agg[q][1] += c
    expect = {
        q: (nu, c / 100.0, c * 1_000_000 // tot) for q, (nu, c) in agg.items()
    }
    got = {
        r.quadrant: (r.n_users, r.quadrant_value, r.value_share_ppm)
        for r in mlmetrics.engagement_value_quadrants(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) >= 3  # the 2x2 is non-degenerate


def test_quantization_recall_sweep_properties(spark, sf_dir):
    from parquet_to_csv_spark.operators import similarity

    rows = {r.bits: r for r in similarity.quantization_recall_sweep(spark, sf_dir).collect()}
    assert set(rows) == {8, 4, 2}
    assert all(r.n_expected == 25 for r in rows.values())
    assert all(
        r.recall_ppm == r.n_hits * 1_000_000 // r.n_expected for r in rows.values()
    )
    # recall must degrade (weakly) as bits shrink, and int8 must be high
    assert rows[8].recall_ppm >= rows[4].recall_ppm >= rows[2].recall_ppm
    assert rows[8].recall_ppm >= 900_000
    assert rows[2].recall_ppm < rows[8].recall_ppm  # int2 visibly lossy


def test_quantization_recall_replay_int8(spark, sf_dir):
    from parquet_to_csv_spark.operators import similarity

    emb = {r.vec_id: [float(x) for x in r.embedding] for r in load_table(spark, sf_dir, "embeddings").collect()}

    def quant(v, qmax):
        m = max(abs(x) for x in v)
        s = qmax / m if m > 0 else 0.0
        import math

        return [math.floor(x * s + 0.5) for x in v]

    q8 = {k: quant(v, 127.0) for k, v in emb.items()}

    def qcos(a, b):
        import math

        dot = sum(x * y for x, y in zip(a, b))
        return dot / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    exact = {
        (r.query_id, r.cand_id)
        for r in similarity.cosine_topk(spark, sf_dir, k=5).collect()
    }
    hits = 0
    for q in range(5):
        scored = sorted(
            ((qcos(q8[q], q8[c]), -c) for c in q8 if c != q), reverse=True
        )[:5]
        approx = {(q, -negc) for _, negc in scored}
        hits += len(approx & exact)
    row = [r for r in similarity.quantization_recall_sweep(spark, sf_dir).collect() if r.bits == 8][0]
    assert row.n_hits == hits


def test_priority_mix_drift_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import mlmetrics

    orders = load_table(spark, sf_dir, "orders").collect()
    counts: dict = defaultdict(int)
    totals: dict = defaultdict(int)
    for r in orders:
        counts[(r.o_orderdate.year, r.o_orderpriority)] += 1
        totals[r.o_orderdate.year] += 1
    expect = {}
    for (yr, pr), pc in sorted(counts.items()):
        prev = (yr - 1, pr)
        if prev not in counts:
            continue
        qc, pt, qt = counts[prev], totals[yr], totals[yr - 1]
        term = (pc * 1_000_000 // pt - qc * 1_000_000 // qt) * int(
            round(math.log(pc * qt / (qc * pt)) * 1e6)
        )
        n, s = expect.get(yr, (0, 0))
        expect[yr] = (n + 1, s + term)
    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q
    expect = {yr: (n, tdiv(s, 1_000_000)) for yr, (n, s) in expect.items()}
    got = {
        r.year: (r.n_categories, r.psi_micro)
        for r in mlmetrics.priority_mix_drift(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(n == 5 for n, _ in got.values())  # all 5 priorities joined


def test_onboarding_latency_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    signup: dict = {}
    for r in ev:
        if r.event_type == "signup":
            tus = r.ts // 1000
            signup[r.user_id] = min(signup.get(r.user_id, tus), tus)
    nxt: dict = {}
    for r in ev:
        if r.user_id in signup and r.event_type != "signup":
            tus = r.ts // 1000
            if tus > signup[r.user_id]:
                nxt[r.user_id] = min(nxt.get(r.user_id, tus), tus)
    gaps = sorted(
        (nxt[u] - signup[u], u) for u in signup if u in nxt
    )
    n = len(gaps)
    row = tops.onboarding_latency(spark, sf_dir).collect()[0]
    assert row.n_activated == n
    assert row.p50_gap_us == gaps[math.floor((n - 1) * 0.5)][0]
    assert row.p90_gap_us == gaps[math.floor((n - 1) * 0.9)][0]
    assert row.n_waiting == len(signup) - n
    assert n > 0


def test_nation_league_table_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    orders = load_table(spark, sf_dir, "orders").collect()
    cust = {r.c_custkey: r.c_nationkey for r in load_table(spark, sf_dir, "customer").collect()}
    nation = {r.n_nationkey: r.n_name for r in load_table(spark, sf_dir, "nation").collect()}
    agg: dict = defaultdict(lambda: [0, 0])
    for r in orders:
        nm = nation[cust[r.o_custkey]]
        agg[nm][0] += 1
        agg[nm][1] += _cents(r.o_totalprice)

    def ranks(vals):
        out = {}
        ordered = sorted(vals.items(), key=lambda kv: (-kv[1], kv[0]))
        for i, (k, v) in enumerate(ordered):
            # rank(): ties share the smallest position; tie-break on name
            # makes keys unique so rank == row position + 1
            out[k] = i + 1
        return out

    rev = {k: v[1] for k, v in agg.items()}
    cnt = {k: v[0] for k, v in agg.items()}
    avg = {k: v[1] // v[0] for k, v in agg.items()}
    rr, cr, ar = ranks(rev), ranks(cnt), ranks(avg)
    expect = {
        k: (v[1] / 100.0, v[0], avg[k], rr[k], cr[k], ar[k])
        for k, v in agg.items()
    }
    got = {
        r.n_name: (r.revenue, r.n_orders, r.avg_cents, r.rev_rank, r.count_rank, r.avg_rank)
        for r in relational.nation_league_table(spark, sf_dir).collect()
    }
    assert got == expect
    # rankings must disagree somewhere, else the league table is redundant
    assert any(rr[k] != ar[k] for k in rr)


def test_type_comovement_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    daily: dict = defaultdict(int)
    for r in ev:
        daily[(r.event_type, r.ts // 86_400_000_000_000)] += _cents(r.value)
    types = ["click", "error", "purchase", "signup", "view"]
    expect = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            days = {d for t, d in daily if t == ta} & {d for t, d in daily if t == tb}
            xs = [(daily[(ta, d)], daily[(tb, d)]) for d in days]
            n = len(xs)
            sx = sum(x for x, _ in xs)
            sy = sum(z for _, z in xs)
            sxx = sum(x * x for x, _ in xs)
            syy = sum(z * z for _, z in xs)
            sxy = sum(x * z for x, z in xs)
            num = float(n) * sxy - float(sx) * sy
            den = math.sqrt(
                (float(n) * sxx - float(sx) * sx) * (float(n) * syy - float(sy) * sy)
            )
            expect[(ta, tb)] = (n, math.floor(num / den * 1e6))
    got = {
        (r.type_a, r.type_b): (r.n, r.corr_micro)
        for r in tops.type_comovement(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) == 10


def test_structuring_screen_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import mlmetrics

    cents = [
        _cents(r.value)
        for r in load_table(spark, sf_dir, "events").collect()
        if r.event_type == "purchase"
    ]
    expect = {}
    for t in (50, 100, 200):
        tc = t * 100
        lo, hi = tc * 95 // 100, tc * 105 // 100
        below = sum(1 for c in cents if lo <= c <= tc)
        above = sum(1 for c in cents if tc < c <= hi)
        expect[t] = (below, above, below * 1_000_000 // above if above else -1)
    got = {
        r.threshold: (r.n_below, r.n_above, r.ratio_ppm)
        for r in mlmetrics.structuring_screen(spark, sf_dir).collect()
    }
    assert got == expect
    # uniform synthetic values: at least one threshold has both bands populated
    assert any(v[0] > 0 and v[1] > 0 for v in got.values())


def test_partitioned_roundtrip_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import corpus

    ev = [r for r in load_table(spark, sf_dir, "events").collect() if r.event_type == "purchase"]
    row = corpus.partitioned_roundtrip(spark, sf_dir).collect()[0]
    assert row.event_type == "purchase"
    assert row.n_events == len(ev)
    assert row.sum_event_id == sum(r.event_id for r in ev)
    assert row.tus_checksum == sum((r.ts // 1000) % 1_000_000_007 for r in ev)
    assert row.sum_cents == sum(_cents(r.value) for r in ev)
    assert row.n_users == len({r.user_id for r in ev})


def test_partitioned_roundtrip_prunes(spark, sf_dir):
    import tempfile

    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="part_prune_")
    ev.select("event_id", "event_type").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(stage)
    plan = (
        spark.read.parquet(stage)
        .filter(F.col("event_type") == "purchase")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "purchase" in plan


def test_bounce_rate_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    by_user: dict = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts // 1000, r.event_id, r.event_type))
    agg: dict = defaultdict(lambda: [0, 0])
    for rows in by_user.values():
        rows.sort()
        sess: list = []
        prev = None
        for tus, eid, et in rows:
            if prev is None or tus - prev >= 1_800_000_000:
                sess.append([])
            sess[-1].append(et)
            prev = tus
        for s in sess:
            agg[s[0]][0] += 1
            agg[s[0]][1] += len(s) == 1
    expect = {
        et: (n, b, b * 1_000_000 // n) for et, (n, b) in agg.items()
    }
    got = {
        r.entry_type: (r.n_sessions, r.n_bounces, r.bounce_ppm)
        for r in tops.bounce_rate(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(v[1] > 0 for v in got.values())  # bounces exist


def test_centroid_drift_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").collect()
    sums: dict = defaultdict(lambda: [None, None, 0, 0])
    for r in emb:
        qv = [int(round(float(x) * 10000)) for x in r.embedding]
        early = r.vec_id % 2 == 0
        a = sums[r.label]
        idx = 0 if early else 1
        if a[idx] is None:
            a[idx] = [0] * len(qv)
        for i, v in enumerate(qv):
            a[idx][i] += v
        a[2 + idx] += 1
    expect = {}
    for label, (sa, sb, ne, nl) in sums.items():
        if sa is None or sb is None:
            continue
        dot = sum(x * y for x, y in zip(sa, sb))
        na = sum(x * x for x in sa)
        nb = sum(y * y for y in sb)
        expect[label] = (
            ne, nl, math.floor(dot / math.sqrt(float(na) * nb) * 1e6)
        )
    got = {
        r.label: (r.n_early, r.n_late, r.drift_cos_micro)
        for r in similarity.centroid_drift(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(-1_000_000 <= v[2] <= 1_000_000 for v in got.values())
    # the fixture's label centroids are noise-dominated (random vectors
    # with weak label structure), so drift sits near 0 — the exact
    # replay above is the correctness bar; the monitor's VALUE range is
    # all this asserts
    assert len(got) == 10


def test_similarity_calibration_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import similarity

    emb = {r.vec_id: (r.embedding, r.label) for r in load_table(spark, sf_dir, "embeddings").collect()}

    def cos(u, v):
        num = sum(float(a) * float(b) for a, b in zip(u, v))
        na = sum(float(a) * float(a) for a in u) ** 0.5
        nb = sum(float(b) * float(b) for b in v) ** 0.5
        return num / (na * nb)

    agg: dict = defaultdict(lambda: [0, 0])
    for q in range(5):
        for c, (cv, cl) in emb.items():
            if c == q:
                continue
            s = round(cos(emb[q][0], cv), 6)
            b = min(max(math.floor((s + 1.0) * 5.0), 0), 9)
            agg[b][0] += 1
            agg[b][1] += emb[q][1] == cl
    expect = {
        b: (n, sm, sm * 1_000_000 // n) for b, (n, sm) in agg.items()
    }
    got = {
        r.bin: (r.n_pairs, r.n_same_label, r.same_label_ppm)
        for r in similarity.similarity_calibration(spark, sf_dir).collect()
    }
    assert got == expect
    # calibration must be monotone-ish: the top populated bin should have a
    # higher same-label rate than the bottom populated bin
    bins = sorted(got)
    assert got[bins[-1]][2] >= got[bins[0]][2]


def test_funnel_stage_lags_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import timeops as tops

    per_user = timeops.funnel_stages(spark, sf_dir).collect()
    v2c, c2p = [], []
    for r in per_user:
        if r.stage == 3:
            v2c.append(r.t_click_us - r.t_view_us)
            c2p.append(r.t_purchase_us - r.t_click_us)
    expect = {}
    for name, lags in (("view_to_click", v2c), ("click_to_purchase", c2p)):
        lags.sort()
        n = len(lags)
        expect[name] = (
            n, lags[math.floor((n - 1) * 0.5)], lags[math.floor((n - 1) * 0.9)]
        )
    got = {
        r.stage: (r.n_converters, r.p50_lag_us, r.p90_lag_us)
        for r in tops.funnel_stage_lags(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(v[0] > 0 for v in got.values())


def test_similarity_pr_curve_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import similarity

    emb = {r.vec_id: (r.embedding, r.label) for r in load_table(spark, sf_dir, "embeddings").collect()}

    def cos(u, v):
        num = sum(float(a) * float(b) for a, b in zip(u, v))
        na = sum(float(a) * float(a) for a in u) ** 0.5
        nb = sum(float(b) * float(b) for b in v) ** 0.5
        return num / (na * nb)

    scored = []
    for q in range(5):
        for c, (cv, cl) in emb.items():
            if c == q:
                continue
            su = int(round(round(cos(emb[q][0], cv), 6) * 1e6))
            scored.append((su, emb[q][1] == cl))
    n_pos = sum(1 for _, s in scored if s)
    expect = {}
    for t in (20, 40, 60, 80):
        cut = t * 10000
        pp = sum(1 for su, _ in scored if su >= cut)
        tp = sum(1 for su, s in scored if su >= cut and s)
        expect[t] = (
            pp, tp,
            tp * 1_000_000 // pp if pp else -1,
            tp * 1_000_000 // n_pos if n_pos else -1,
        )
    got = {
        r.threshold_pct: (r.n_predicted, r.n_true_pos, r.precision_ppm, r.recall_ppm)
        for r in similarity.similarity_pr_curve(spark, sf_dir).collect()
    }
    assert got == expect
    # recall must be non-increasing in the threshold
    rs = [got[t][3] for t in (20, 40, 60, 80) if got[t][3] >= 0]
    assert rs == sorted(rs, reverse=True)


def test_two_stage_retrieval_audit_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import similarity

    exact = {
        (r.query_id, r.cand_id)
        for r in similarity.cosine_topk(spark, sf_dir, k=5).collect()
    }
    cands = {
        (r.query_id, r.cand_id)
        for r in similarity.ivf_topk(spark, sf_dir, k=20).collect()
    }
    expect = {}
    for q in range(5):
        e = {c for qq, c in exact if qq == q}
        a = {c for qq, c in cands if qq == q}
        hit = len(e & a)
        expect[q] = (hit, len(e), hit * 1_000_000 // len(e))
    got = {
        r.query_id: (r.n_retrievable, r.k_final, r.ceiling_recall_ppm)
        for r in similarity.two_stage_retrieval_audit(spark, sf_dir).collect()
    }
    assert got == expect
    # with k_candidates=4x k_final, the ceiling should be high
    assert sum(v[0] for v in got.values()) >= 20


def test_retention_policy_audit_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    days = [(r.event_type, r.ts // 86_400_000_000_000) for r in ev]
    anchor = max(d for _, d in days)
    agg: dict = defaultdict(lambda: [0, 0, 0, 0])
    for et, d in days:
        a = agg[et]
        a[0] += 1
        for i, pol in enumerate((7, 14, 30)):
            a[1 + i] += d < anchor - pol
    expect = {}
    for et, (n, o7, o14, o30) in agg.items():
        for pol, o in ((7, o7), (14, o14), (30, o30)):
            expect[(et, pol)] = (n, o, o * 1_000_000 // n)
    got = {
        (r.event_type, r.policy_days): (r.n_rows, r.n_expired, r.expired_ppm)
        for r in tops.retention_policy_audit(spark, sf_dir).collect()
    }
    assert got == expect
    # tighter policies expire (weakly) more
    for et in agg:
        assert got[(et, 7)][1] >= got[(et, 14)][1] >= got[(et, 30)][1]


def test_lm_heldout_eval_replay(spark, sf_dir):
    import hashlib
    import math
    from collections import Counter

    from parquet_to_csv_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents").collect()
    train_big: Counter = Counter()
    train_vocab = set()
    held = []
    for r in docs:
        toks = [t for t in r.text.lower().split() if t]
        is_train = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:4], 16) % 100 < 80
        if is_train:
            train_big.update(zip(toks, toks[1:]))
            train_vocab.update(toks)
        else:
            held.append((r.source, toks))
    c1: Counter = Counter()
    for (w1, _), c in train_big.items():
        c1[w1] += c
    v = len(train_vocab)
    agg: dict = defaultdict(lambda: [0, 0])
    for src, toks in held:
        for pair in zip(toks, toks[1:]):
            u = int(round(math.log((train_big[pair] + 1) / (c1[pair[0]] + v)) * 1e6))
            agg[src][0] += 1
            agg[src][1] += u
    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q
    expect = {src: (n, tdiv(s, n)) for src, (n, s) in agg.items()}
    got = {
        r.source: (r.n_bigrams, r.mean_logprob_micro)
        for r in corpus.lm_heldout_eval(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(v_[1] < 0 for v_ in got.values())  # log-probs are negative


def test_functional_dependency_audit_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    got = {
        r.dependency: (r.n_keys, r.n_violating, r.violation_ppm)
        for r in relational.functional_dependency_audit(spark, sf_dir).collect()
    }
    assert set(got) == {
        "l_orderkey->o_orderdate",
        "l_orderkey->o_custkey",
        "p_partkey->p_brand",
        "user_id->daily_first_event",
    }
    # true FDs hold exactly; the behavioral non-FD must visibly fail
    assert got["l_orderkey->o_orderdate"][1] == 0
    assert got["l_orderkey->o_custkey"][1] == 0
    assert got["p_partkey->p_brand"][1] == 0
    assert got["user_id->daily_first_event"][1] > 0


def test_open_orders_timeline_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").collect()
    last_ship: dict = {}
    for r in li:
        sm = r.l_shipdate.year * 12 + r.l_shipdate.month
        last_ship[r.l_orderkey] = max(last_ship.get(r.l_orderkey, 0), sm)
    agg: dict = defaultdict(lambda: [0, 0])
    for r in load_table(spark, sf_dir, "orders").collect():
        if r.o_orderkey not in last_ship:
            continue
        om = r.o_orderdate.year * 12 + r.o_orderdate.month
        sm = last_ship[r.o_orderkey]
        if sm <= om:
            continue
        c = _cents(r.o_totalprice)
        for m in range(om, sm):
            agg[m][0] += 1
            agg[m][1] += c
    expect = {
        (m // 12, m % 12): (n, c / 100.0) for m, (n, c) in agg.items()
    }
    got = {
        (r.year, r.month0): (r.n_open, r.open_value)
        for r in relational.open_orders_timeline(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) > 12  # the backlog spans years


def test_weekday_index_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    daily: dict = defaultdict(int)
    for r in ev:
        daily[(r.event_type, r.ts // 86_400_000_000_000)] += _cents(r.value)
    per_dow: dict = defaultdict(lambda: [0, 0])
    overall: dict = defaultdict(lambda: [0, 0])
    for (et, day), y in daily.items():
        dow = (day + 4) % 7
        per_dow[(et, dow)][0] += 1
        per_dow[(et, dow)][1] += y
        overall[et][0] += 1
        overall[et][1] += y
    expect = {
        (et, dow): (nd, sd * overall[et][0] * 1_000_000 // (nd * overall[et][1]))
        for (et, dow), (nd, sd) in per_dow.items()
    }
    got = {
        (r.event_type, r.dow): (r.nd, r.index_ppm)
        for r in tops.weekday_index(spark, sf_dir).collect()
    }
    assert got == expect
    # indexes hover around 1e6 by construction
    assert all(200_000 < v[1] < 5_000_000 for v in got.values())


def test_neyman_allocation_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents").collect()
    strata: dict = defaultdict(list)
    for r in docs:
        strata[r.lang].append(r.n_chars)
    weighted = {}
    for lang, xs in strata.items():
        n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
        w = math.floor(n * math.sqrt(float(n) * sxx - float(sx) * sx) / n)
        weighted[lang] = (n, w)
    w_tot = sum(w for _, w in weighted.values())
    n_tot = sum(n for n, _ in weighted.values())
    base = []
    for lang, (n, w) in weighted.items():
        base.append((lang, n, w, w * 100 // w_tot, w * 100 % w_tot, n * 100 // n_tot))
    short = 100 - sum(b[3] for b in base)
    base.sort(key=lambda b: (-b[4], b[0]))
    expect = {}
    for i, (lang, n, w, fq, _, pq) in enumerate(base):
        expect[lang] = (n, w, pq, fq + (1 if i < short else 0))
    got = {
        r.lang: (r.n_docs, r.w, r.proportional_q, r.neyman_q)
        for r in corpus.neyman_allocation(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(v[3] for v in got.values()) == 100  # exact budget


def test_order_regularity_replay(spark, sf_dir):
    import math

    from parquet_to_csv_spark.operators import relational

    orders = load_table(spark, sf_dir, "orders").collect()
    by_cust: dict = defaultdict(list)
    for r in orders:
        by_cust[r.o_custkey].append(
            (int(r.o_orderdate.timestamp() * 1000) // 86_400_000, r.o_orderkey)
        )
    scored = []
    for ck, rows in by_cust.items():
        rows.sort()
        gaps = [b[0] - a[0] for a, b in zip(rows, rows[1:])]
        if len(gaps) < 5 or sum(gaps) <= 0:
            continue
        n, sx, sxx = len(gaps), sum(gaps), sum(g * g for g in gaps)
        disp = math.floor(
            (float(n) * sxx - float(sx) * sx) / (float(sx) * sx) * 1e6
        )
        scored.append((ck, n, sx // n, disp))
    scored.sort(key=lambda t: (t[3], t[0]))
    expect = scored[:15]
    got = [
        (r.o_custkey, r.n_gaps, r.mean_gap_days, r.dispersion_ppm)
        for r in relational.order_regularity(spark, sf_dir).collect()
    ]
    assert got == expect
    assert len(got) == 15


def test_topk_customer_share_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    orders = load_table(spark, sf_dir, "orders").collect()
    cust = {r.c_custkey: r.c_nationkey for r in load_table(spark, sf_dir, "customer").collect()}
    nation = {r.n_nationkey: r.n_name for r in load_table(spark, sf_dir, "nation").collect()}
    per_cust: dict = defaultdict(int)
    for r in orders:
        per_cust[(nation[cust[r.o_custkey]], r.o_custkey)] += _cents(r.o_totalprice)
    by_nation: dict = defaultdict(list)
    for (nm, ck), c in per_cust.items():
        by_nation[nm].append((c, ck))
    expect = {}
    for nm, rows in by_nation.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        topk = sum(c for c, _ in rows[:10])
        tot = sum(c for c, _ in rows)
        expect[nm] = (len(rows), topk / 100.0, topk * 1_000_000 // tot)
    got = {
        r.n_name: (r.n_customers, r.topk_revenue, r.topk_share_ppm)
        for r in relational.topk_customer_share(spark, sf_dir).collect()
    }
    assert got == expect
    # top-10 of ~tens of customers: share must be meaningful, not ~0
    assert all(v[2] > 100_000 for v in got.values())


def test_pair_review_queue_replay(spark, sf_dir):
    import hashlib
    import math

    from parquet_to_csv_spark.operators import dedup

    pairs = [
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8).collect()
    ]
    banded: dict = defaultdict(list)
    for a, b, j in pairs:
        # integer 4dp banding (round-3 fix: IEEE floor misbins 0.90/0.95)
        band = min((round(j * 10000) - 8000) // 500, 3)
        h = hashlib.md5(f"{a}_{b}".encode()).hexdigest()
        banded[band].append((h, a, b, j))
    expect = {}
    for band, rows in banded.items():
        rows.sort()
        for pick, (_, a, b, j) in enumerate(rows[:2], 1):
            expect[(band, pick)] = (a, b, j)
    got = {
        (r.band, r.pick): (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.pair_review_queue(spark, sf_dir).collect()
    }
    assert got == expect
    assert len({b for b, _ in got}) >= 2  # multiple bands represented


def test_knn_classifier_eval_replay(spark, sf_dir):
    from collections import Counter

    from parquet_to_csv_spark.operators import similarity

    topk = similarity.cosine_topk(spark, sf_dir, n_queries=5, k=10).collect()
    emb = {r.vec_id: r.label for r in load_table(spark, sf_dir, "embeddings").collect()}
    by_q: dict = defaultdict(list)
    for r in topk:
        by_q[r.query_id].append(emb[r.cand_id])
    expect = {}
    for q, labels in by_q.items():
        cnt = Counter(labels)
        mv = max(cnt.values())
        pred = min(l for l, c in cnt.items() if c == mv)
        expect[q] = (emb[q], pred, mv, int(pred == emb[q]))
    got = {
        r.query_id: (r.q_label, r.pred_label, r.n_votes, r.correct)
        for r in similarity.knn_classifier_eval(spark, sf_dir).collect()
    }
    assert got == expect
    assert set(got) == set(range(5))


def test_position_based_attribution_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import timeops as tops

    LOOK = 604_800_000_000
    ev = load_table(spark, sf_dir, "events").collect()
    touches: dict = defaultdict(list)
    purchases = []
    for r in ev:
        tus = r.ts // 1000
        if r.event_type == "purchase":
            purchases.append((r.user_id, r.event_id, tus))
        elif r.event_type in ("view", "click", "signup"):
            touches[r.user_id].append((tus, r.event_id, r.event_type))
    agg: dict = defaultdict(lambda: [0, 0])
    for uid, pid, ptus in purchases:
        window = sorted(
            (t, tid, tt) for t, tid, tt in touches.get(uid, [])
            if ptus - LOOK <= t <= ptus
        )
        n = len(window)
        if n == 0:
            agg["direct"][0] += 1000
            agg["direct"][1] += 1
            continue
        first, last = window[0], window[-1]
        for t, tid, tt in window:
            if n == 1:
                c = 1000
            elif n == 2:
                c = 500
            elif (t, tid) == (first[0], first[1]):
                c = 400 + (200 - (200 // (n - 2)) * (n - 2))
            elif (t, tid) == (last[0], last[1]):
                c = 400
            else:
                c = 200 // (n - 2)
            agg[tt][0] += c
            agg[tt][1] += 1
    expect = {k: tuple(v) for k, v in agg.items()}
    got = {
        r.channel: (r.credit_milli, r.n_touchpoints)
        for r in tops.position_based_attribution(spark, sf_dir).collect()
    }
    assert got == expect
    # conservation: total credit = 1000 per purchase
    assert sum(v[0] for v in got.values()) == 1000 * len(purchases)


def test_winback_orders_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    orders = load_table(spark, sf_dir, "orders").collect()
    by_cust: dict = defaultdict(list)
    for r in orders:
        od = int(r.o_orderdate.timestamp() * 1000) // 86_400_000
        q = (r.o_orderdate.month - 1) // 3 + 1
        yq = r.o_orderdate.year * 4 + q - 1
        by_cust[r.o_custkey].append((od, r.o_orderkey, yq, _cents(r.o_totalprice)))
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for rows in by_cust.values():
        rows.sort()
        prev = None
        for od, _, yq, c in rows:
            gap = od - prev if prev is not None else None
            a = agg[yq]
            a[0] += 1
            if gap is not None and gap > 90:
                a[1] += 1
                a[2] += c
            prev = od
    expect = {
        (yq // 4, yq % 4 + 1): (n, wb, wb * 1_000_000 // n, c / 100.0)
        for yq, (n, wb, c) in agg.items()
    }
    got = {
        (r.year, r.quarter): (r.n_orders, r.n_winback, r.winback_ppm, r.winback_revenue)
        for r in relational.winback_orders(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(v[1] > 0 for v in got.values())  # win-backs exist


def test_quality_metric_agreement_replay(spark, sf_dir):
    import math
    from collections import Counter

    from parquet_to_csv_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents").collect()
    toks = {
        r.doc_id: [t for t in r.text.lower().split() if t] for r in docs
    }
    lex = {
        d: len(set(t)) * 1_000_000 // len(t) for d, t in toks.items() if t
    }
    corpus_tf: Counter = Counter()
    for t in toks.values():
        corpus_tf.update(t)
    t_total = sum(corpus_tf.values())
    lm = {}
    for d, t in toks.items():
        if not t:
            continue
        tf = Counter(t)
        units = sum(
            c * int(round(math.log(corpus_tf[w] / t_total) * 1e6))
            for w, c in tf.items()
        )
        lm[d] = int(round(math.floor(units / len(t)) / 1e6 * 1e6))
    ids = [d for d in lex if d in lm]
    n = len(ids)
    top_lex = {
        d for i, d in enumerate(
            sorted(ids, key=lambda d: (-lex[d], d))
        ) if (i + 1) * 10 <= n
    }
    top_lm = {
        d for i, d in enumerate(
            sorted(ids, key=lambda d: (-lm[d], d))
        ) if (i + 1) * 10 <= n
    }
    both = len(top_lex & top_lm)
    lex_only = len(top_lex - top_lm)
    lm_only = len(top_lm - top_lex)
    row = corpus.quality_metric_agreement(spark, sf_dir).collect()[0]
    assert (row.n_docs, row.both_top, row.lex_only, row.lm_only) == (
        n, both, lex_only, lm_only
    )
    denom = both + lex_only + lm_only
    assert row.top_jaccard_ppm == (both * 1_000_000 // denom if denom else 0)


def test_token_fertility_replay(spark, sf_dir):
    import re

    from parquet_to_csv_spark.operators import text as textops

    RX = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    docs = load_table(spark, sf_dir, "documents").collect()
    agg: dict = defaultdict(lambda: [0, 0, 0, 0])
    for r in docs:
        ws = [t for t in r.text.lower().split() if t]
        rx = RX.findall(r.text.lower())
        if not ws or not rx:
            continue
        a = agg[r.lang]
        a[0] += 1
        a[1] += len(r.text)
        a[2] += len(ws)
        a[3] += len(rx)
    expect = {
        lang: (
            n, c * 1000 // w, c * 1000 // x, x * 1000 // w
        )
        for lang, (n, c, w, x) in agg.items()
    }
    got = {
        r.lang: (r.n_docs, r.ws_fertility_milli, r.rx_fertility_milli, r.rx_per_ws_milli)
        for r in textops.token_fertility(spark, sf_dir).collect()
    }
    assert got == expect
    # the regex tokenizer splits punctuation off, so it always yields at
    # least as many tokens (fertility no higher) than whitespace
    assert all(v[3] >= 1000 for v in got.values())


def test_type_user_overlap_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import timeops as tops

    ev = load_table(spark, sf_dir, "events").collect()
    users: dict = defaultdict(set)
    for r in ev:
        users[r.event_type].add(r.user_id)
    types = sorted(users)
    expect = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            both = len(users[ta] & users[tb])
            if both == 0:
                continue
            expect[(ta, tb)] = (
                both,
                both * 1_000_000 // (len(users[ta]) + len(users[tb]) - both),
            )
    got = {
        (r.ta, r.tb): (r.n_both, r.jaccard_ppm)
        for r in tops.type_user_overlap(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) >= 6  # most type pairs share users


def test_supplier_share_movers_replay(spark, sf_dir):
    from parquet_to_csv_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem").collect()
    rows = [
        (r.l_suppkey, r.l_shipdate.year,
         int(r.l_extendedprice * (1 - r.l_discount) * 10000 + 0.5))
        for r in li
    ]
    y0 = min(y for _, y, _ in rows)
    y1 = max(y for _, y, _ in rows)
    per: dict = defaultdict(int)
    tot: dict = defaultdict(int)
    for sk, y, u in rows:
        if y in (y0, y1):
            per[(sk, y == y0)] += u
            tot[y == y0] += u
    shares: dict = defaultdict(dict)
    for (sk, is_first), r in per.items():
        shares[sk][is_first] = r * 1_000_000 // tot[is_first]
    scored = [
        (sk, d.get(True, 0), d.get(False, 0), d.get(False, 0) - d.get(True, 0))
        for sk, d in shares.items()
    ]
    scored.sort(key=lambda t: (-abs(t[3]), t[0]))
    expect = scored[:10]
    got = [
        (r.l_suppkey, r.first_ppm, r.last_ppm, r.delta_ppm)
        for r in relational.supplier_share_movers(spark, sf_dir).collect()
    ]
    assert got == expect
    assert any(d != 0 for _, _, _, d in got)  # real movement exists
