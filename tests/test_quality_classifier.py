"""NB quality classifier (McCallum & Nigam 1998; the CCNet
model-filter pattern, Wenzek et al. 2020) — weak-labeled train split,
held-out evaluation, rounded llr scores.  The reference (waimak) has
no classifier surface; this is the training-data-pipeline extension
family, with its oracle lockstep here."""

import math

import duckdb
from pyspark.sql import Row

from waimak_spark.functions.classifier import (
    QC_ALPHA,
    QC_BUCKETS,
    QC_THRESHOLD,
    QC_TRAIN_PCT,
    quality_classifier_scores,
    quality_classifier_scores_sql,
)
from waimak_spark.functions.text import STOPWORDS


def _h32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_nb(texts: dict[int, str], buckets=QC_BUCKETS, alpha=QC_ALPHA,
           train_pct=QC_TRAIN_PCT, seed=1):
    """Independent reference: same tokenizer/hash/split/labels, same
    add-alpha arithmetic, same 4dp round before the zero threshold."""
    out = {}
    toks = {i: [t for t in (s or "").lower().split() if t]
            for i, s in texts.items()}
    lab = {}
    for i, t in toks.items():
        ratio = round(sum(1 for x in t if x in STOPWORDS) / len(t), 4) \
            if t else 0.0
        lab[i] = 1 if ratio >= QC_THRESHOLD else 0
    train = {i for i in texts if _h32(f"split:{seed}:{i}") % 100
             < train_pct}
    cp = [0] * buckets
    cn = [0] * buckets
    n_pos = n_neg = 0
    for i in texts:
        if i not in train:
            continue
        n_pos += lab[i]
        n_neg += 1 - lab[i]
        tgt = cp if lab[i] else cn
        for t in toks[i]:
            tgt[_h32(t) % buckets] += 1
    t_pos, t_neg = float(sum(cp)), float(sum(cn))
    ab = alpha * buckets
    llr = [math.log((cp[b] + alpha) / (t_pos + ab))
           - math.log((cn[b] + alpha) / (t_neg + ab))
           for b in range(buckets)]
    lp = math.log((n_pos + alpha) / (n_neg + alpha))
    for i in texts:
        # per-doc sum over the (bucket, cnt) aggregation, like both
        # engines — not token order
        cnt: dict[int, int] = {}
        for t in toks[i]:
            cnt[_h32(t) % buckets] = cnt.get(_h32(t) % buckets, 0) + 1
        s = round(lp + sum(c * llr[b] for b, c in cnt.items()), 4)
        out[i] = (lab[i], 1 if i in train else 0, s,
                  1 if s >= 0.0 else 0)
    return out


class TestQualityClassifierOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.curation import (
            _quality_classifier_oracle,
            quality_classifier_scores as entry,
        )

        got = sorted(tuple(r) for r in entry(spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = sorted(tuple(r) for r in con.execute(
            _quality_classifier_oracle()).fetchall())
        assert len(got) == len(want) > 0
        assert got == want

    def test_matches_pure_python_reference(self, spark):
        texts = {
            0: "the cat sat on the mat and it is a good mat",
            1: "alpha beta gamma delta epsilon zeta",
            2: "it is the best of the worst of the times",
            3: "spark shuffle partition executor broadcast",
            4: "",
            5: None,
            6: "the the the the",
            7: "one two three four five six seven eight nine ten",
        }
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in texts.items()])
        got = {r.doc_id: (r.y, r.is_train, r.score, r.pred)
               for r in quality_classifier_scores(df).collect()}
        assert got == _py_nb(texts)

    def test_holdout_beats_majority(self, spark, sf_dir):
        """The learning gate: held-out accuracy must clear the held-out
        majority-class baseline by a real margin (measured 0.74-0.83 vs
        0.51-0.53 across the test SFs) — a scoring-path change that
        silently breaks the model turns this red."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = quality_classifier_scores(docs).collect()
        ho = [r for r in rows if r.is_train == 0]
        acc = sum(1 for r in ho if r.y == r.pred) / len(ho)
        pos = sum(r.y for r in ho)
        maj = max(pos, len(ho) - pos) / len(ho)
        assert acc >= maj + 0.1

    def test_zero_token_docs_score_prior_only(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="the and of it is a"),
             Row(doc_id=1, text="alpha beta"),
             Row(doc_id=2, text=""),
             Row(doc_id=3, text=None)])
        rows = {r.doc_id: r for r in
                quality_classifier_scores(df).collect()}
        assert rows[2].score == rows[3].score
        assert rows[2].y == rows[3].y == 0
        assert len(rows) == 4

    def test_unseen_buckets_get_smoothed_default(self, spark):
        """A holdout doc whose tokens never appear in training must
        still score finitely through the smoothed default llr (and
        identically to the oracle on the same corpus)."""
        # doc_ids chosen so 0/1 land in train, and the holdout doc's
        # vocabulary is disjoint from training vocabulary
        texts = {}
        i = 0
        train_ids, ho_id = [], None
        while len(train_ids) < 2 or ho_id is None:
            if _h32(f"split:1:{i}") % 100 < QC_TRAIN_PCT:
                if len(train_ids) < 2:
                    train_ids.append(i)
            elif ho_id is None:
                ho_id = i
            i += 1
        texts[train_ids[0]] = "the of and it is"
        texts[train_ids[1]] = "alpha beta gamma"
        texts[ho_id] = "zzqx wwvv uupp"
        df = spark.createDataFrame(
            [Row(doc_id=k, text=v) for k, v in texts.items()])
        got = {r.doc_id: tuple(r)[1:] for r in
               quality_classifier_scores(df).collect()}
        want = {k: v for k, v in _py_nb(texts).items()}
        assert got == want
        assert all(math.isfinite(v[2]) for v in got.values())

    def test_seed_changes_split_not_labels(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = {r.doc_id: r for r in
             quality_classifier_scores(docs, seed=1).collect()}
        b = {r.doc_id: r for r in
             quality_classifier_scores(docs, seed=2).collect()}
        assert {d: r.y for d, r in a.items()} == \
            {d: r.y for d, r in b.items()}
        assert any(a[d].is_train != b[d].is_train for d in a)


class TestQualityClassifierPlan:
    def test_bounded_collects_broadcast_scoring_no_python(
            self, spark, sf_dir):
        """The scoring plan: llr comes back as a BROADCAST hash join
        (B-row side), no Python stages, no nested-loop/cartesian joins
        anywhere — the fitted counts are bounded collects (<=2B+2 rows),
        never data collects."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (quality_classifier_scores(docs)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan


class TestStreamingQualityScores:
    def test_streaming_identical_to_batch(self, spark, sf_dir):
        """The streamed stateless scorer (folded llr map literal,
        per-row token aggregate, append mode) must reproduce the batch
        entry row for row — the identity that licenses sharing the
        batch oracle verbatim and the entry's permanent
        output-identity-sibling slot in the extras registry."""
        from waimak_spark.catalog.curation import (
            quality_classifier_scores as batch_entry,
        )
        from waimak_spark.catalog.streaming import (
            streaming_quality_scores,
        )

        got = sorted(tuple(r) for r in
                     streaming_quality_scores(spark, sf_dir).collect())
        want = sorted(tuple(r) for r in
                      batch_entry(spark, sf_dir).collect())
        assert len(got) == len(want) > 0
        assert got == want

    def test_streaming_matches_duckdb_oracle(self, spark, sf_dir):
        from waimak_spark.catalog.streaming import (
            _streaming_quality_oracle,
            streaming_quality_scores,
        )

        got = sorted(tuple(r) for r in
                     streaming_quality_scores(spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = sorted(tuple(r) for r in con.execute(
            _streaming_quality_oracle()).fetchall())
        assert got == want

    def test_score_expression_matches_batch_on_edge_docs(self, spark):
        """The map-literal per-row scorer vs the batch broadcast-join
        scorer on a crafted corpus with empty/null/unseen-token docs —
        same fitted model, same rounded scores."""
        from pyspark.sql import Row

        from waimak_spark.functions.classifier import (
            nb_fit,
            nb_score_columns,
            quality_classifier_scores,
        )

        texts = {0: "the cat sat on the mat and it is a good mat",
                 1: "alpha beta gamma delta", 2: "", 3: None,
                 4: "zzqx wwvv uupp", 5: "the the the of of it"}
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in texts.items()])
        _l, _g, llr_rows, lp = nb_fit(df)
        cols = nb_score_columns("text", llr_rows, lp)
        per_row = {r.doc_id: (r.y, r.score) for r in df.select(
            "doc_id", cols["y"].alias("y"),
            cols["score"].alias("score")).collect()}
        batch = {r.doc_id: (r.y, r.score)
                 for r in quality_classifier_scores(df).collect()}
        assert per_row == batch
