"""The ``podcast`` workload: the paper's own path, writes then reads.

The warm-up ingests the base feeds into a fresh warehouse; that state
is the snapshot every pass starts from.  Set-up opens it (each table
read and counted, three times).  A pass replays one seeded message
stream, closed loop with one client, as the reference's
Lambdas consume SQS one message at a time:

* a feed refresh: every feed re-delivered with new items;
* a new-episode load: the next undownloaded episode of a podcast is
  picked with ``analytics.next_undownloaded_episode`` (as lambda_3
  does), its transcript arrives as audio bytes in chunks, and
  ``run_transcription`` + ``run_nlp`` load it.

The refresh re-delivers every item already stored, which must add no
rows.  It comes before or after the load, by seed.  Then one
dashboard session replays the nine ``pipeline.analytics`` requests
against what the stream wrote; each re-reads its tables with
``Warehouse.read`` and collects to pandas, as a callback would.
Every output is checked after the pass, outside the timed region.
"""

from __future__ import annotations

import email.utils
import json
import os
import random
import shutil
import time
from collections import Counter
from functools import partial

import duckdb

from serverless_podcast_etl_spark import schemas
from serverless_podcast_etl_spark.functions.text import sentence_split
from serverless_podcast_etl_spark.pipeline import analytics, runner
from serverless_podcast_etl_spark.pipeline.ml_udfs import fake_entities, fake_sentiment
from serverless_podcast_etl_spark.pipeline.warehouse import Warehouse

from . import inputs
from .workload import Op, guarded, same_rows, tree_stats

N_PODCASTS, N_ITEMS, N_NEW_ITEMS = 4, 6, 2
N_SENTENCES, N_CHUNKS = 300, 6
SETUP_REPEATS = 3

WORD_SPLIT = r"\s+"
SESSION = [
    "podcasts", "episodes", "next_undownloaded", "entity_types", "mentions",
    "sentiment_pie", "rolling_series", "proportions", "word_cloud",
]

# DuckDB twin of each dashboard request, over the warehouse parquet;
# (sql, ordered, float tolerance).  The proportions are rounded to 4
# places on both sides, so a last-digit difference in the averages may
# flip one rounding step.
TWINS = {
    "podcasts": ("SELECT DISTINCT podcast_title, podcast_id FROM pod", False, 0),
    "episodes": (
        "SELECT episode_title, episode_id, episode_release_date FROM ep "
        "WHERE podcast_id = $pid ORDER BY episode_release_date DESC, episode_id",
        True, 0,
    ),
    "next_undownloaded": (
        "SELECT e.episode_id, link, episode_title, episode_release_date, e.podcast_id "
        "FROM ep e JOIN pod p ON e.podcast_id = p.podcast_id "
        "WHERE p.podcast_title = $title AND NOT e.downloaded "
        "ORDER BY episode_release_date DESC, e.episode_id DESC LIMIT 1",
        True, 0,
    ),
    "entity_types": (
        "SELECT DISTINCT entity_type FROM ent WHERE episode_id = $eid", False, 0
    ),
    "mentions": (
        "SELECT entity_text, count(*) AS num_occurences FROM ent "
        "WHERE entity_type = $etype AND episode_id = $eid "
        "GROUP BY entity_text ORDER BY num_occurences DESC, entity_text",
        True, 0,
    ),
    "sentiment_pie": (
        "SELECT s.overall_sentiment, count(*) AS num_sentences FROM ent e "
        "LEFT JOIN sent s ON e.sentence_index = s.sentence_index "
        "AND e.episode_id = s.episode_id "
        "WHERE e.entity_type = $etype AND e.episode_id = $eid GROUP BY 1",
        False, 0,
    ),
    "rolling_series": (
        "SELECT episode_id, sentence_index, positive_score - negative_score AS score, "
        "avg(positive_score - negative_score) OVER (PARTITION BY episode_id "
        "ORDER BY sentence_index ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) "
        "FROM sent WHERE episode_id = $eid",
        False, 1e-6,
    ),
    "proportions": (
        "WITH a AS (SELECT e.entity_text, avg(s.positive_score) AS p, "
        "avg(s.neutral_score) AS n, avg(s.negative_score) AS g FROM ent e "
        "LEFT JOIN sent s ON e.sentence_index = s.sentence_index "
        "AND e.episode_id = s.episode_id "
        "WHERE e.entity_type = $etype AND e.episode_id = $eid GROUP BY 1) "
        "SELECT entity_text, round(p / (p + n + g), 4), round(n / (p + n + g), 4), "
        "round(g / (p + n + g), 4) FROM a",
        False, 1.5e-4,
    ),
    "word_cloud": (
        "SELECT word, count(*) AS num_occurences FROM (SELECT unnest("
        f"regexp_split_to_array(lower(sentence_text), '{WORD_SPLIT}')) AS word "
        "FROM sent WHERE episode_id = $eid) WHERE word <> '' AND word NOT IN ("
        + ", ".join(f"'{w}'" for w in analytics.WORDCLOUD_STOPWORDS)
        + ") GROUP BY word ORDER BY num_occurences DESC, word",
        True, 0,
    ),
}


def audio_for(seed: int, link: str) -> bytes:
    """The episode's audio: transcript text that the stand-in
    transcriber returns verbatim, fixed by (seed, link)."""
    rng = random.Random(f"{seed}:{link}")
    return inputs.transcript(rng, N_SENTENCES).encode("ascii")


def predict(content: bytes) -> tuple[list[str], list[dict], int]:
    """Sentences, entities and chunk count the pipeline must produce
    for ``content``: fixed-size chunks transcribed verbatim and joined
    with a space, sentence-split, and the entity stand-in run over the
    newline-joined sentences."""
    size = inputs.chunk_size(content, N_CHUNKS)
    chunks = [content[i : i + size].decode("ascii") for i in range(0, len(content), size)]
    sentences = sentence_split(" ".join(chunks))
    return sentences, fake_entities("\n".join(sentences)), len(chunks)


def _date(item: inputs.Item):
    return email.utils.parsedate_to_datetime(item.pub_date).date()


class PodcastWorkload:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.rng = random.Random(seed)
        self.pods = inputs.make_podcasts(self.rng, N_PODCASTS, N_ITEMS, N_NEW_ITEMS)
        self.snapshot = os.path.join(work, "snapshot")
        self.root = os.path.join(work, "warehouse")
        self.audio: dict[str, bytes] = {}
        self.checks: list[tuple[Op, object]] = []
        self.input_bytes = self.stored_bytes = self.files_written = 0

    def _docs(self, n_items: int):
        docs = [inputs.rss_doc(p, p.items[:n_items]) for p in self.pods]
        self.input_bytes += len(json.dumps(docs))
        return self.spark.createDataFrame(docs, schemas.RSS_DOC)

    def warm_up(self) -> list[Op]:
        """Ingest the base feeds into a fresh warehouse: the snapshot
        every pass starts from, and the JVM's first Spark work.  Not
        timed; checked like a refresh."""
        docs = self._docs(N_ITEMS)
        op = Op("ingest", "base_ingest")
        with op.timed():
            got = guarded(op, runner.run_metadata, Warehouse(self.spark, self.snapshot), docs)
        shutil.copytree(self.snapshot, self.root)
        self.checks = [(op, partial(self._check_appended, got, self._base_counts()))]
        return [op]

    def _base_counts(self) -> dict[str, int]:
        """Rows of each table the base ingest writes."""
        return {
            "time_dimension": len({_date(i) for p in self.pods for i in p.items[:N_ITEMS]}),
            "podcast_dimension": N_PODCASTS,
            "episode_dimension": N_PODCASTS * N_ITEMS,
        }

    def setup(self) -> list[float]:
        """Open the snapshot: ``Warehouse.read`` and count each table,
        ``SETUP_REPEATS`` times; the runner reports the median."""
        want = self._base_counts()
        wh = Warehouse(self.spark, self.snapshot)
        times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            got = {name: wh.read(name).count() for name in want}
            times.append(time.perf_counter() - t)
            if got != want:
                raise RuntimeError(f"snapshot tables hold {got} rows, expected {want}")
        return times

    def run_pass(self) -> list[Op]:
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.snapshot, self.root)
        files0, bytes0 = tree_stats(self.root)
        self.input_bytes, self.checks = 0, []
        self.audio = {i.link: audio_for(self.seed, i.link) for p in self.pods for i in p.items}
        refresh_docs = self._docs(N_ITEMS + N_NEW_ITEMS)
        wh = Warehouse(self.spark, self.root)
        pod = self.rng.choice(self.pods)
        stream = ["load"]
        stream.insert(self.rng.randrange(2), "refresh")
        # the load picks the newest undownloaded item, a refreshed one
        # when the refresh came first
        refreshed = stream.index("refresh") < stream.index("load")
        newest = pod.items[N_ITEMS + (N_NEW_ITEMS if refreshed else 0) - 1].link
        ops, loaded = [], None
        for kind in stream:
            op = Op(kind, kind)
            with self.tracer.span(kind, op=kind) as rec, op.timed():
                if kind == "refresh":
                    got = guarded(op, runner.run_metadata, wh, refresh_docs)
                    check = partial(self._check_refresh, got)
                else:
                    got = guarded(op, self._load, wh, pod.title, rec)
                    loaded = got and got[0]
                    check = partial(self._check_load, op, got, newest)
            self.checks.append((op, check))
            ops.append(op)
        if loaded:
            load_op = next(o for o in ops if o.kind == "load")
            self.checks.append((load_op, partial(self._check_tables, *loaded)))
            ops += self._session(wh, pod, loaded[0])
        files1, bytes1 = tree_stats(self.root)
        self.files_written, self.stored_bytes = files1 - files0, bytes1 - bytes0
        return ops

    def _load(self, wh, title, rec):
        """lambda_3's pick of the next episode to download, then the
        load of its audio."""
        eps, pods = wh.read("episode_dimension"), wh.read("podcast_dimension")
        pick = analytics.next_undownloaded_episode(eps, pods, title).collect()[0]
        episode_id, link = pick["episode_id"], pick["link"]
        content = self.audio[link]
        self.input_bytes += len(content)
        if rec is not None:
            rec["input_bytes"] = len(content)
        audio = self.spark.createDataFrame(
            [(episode_id, content)], "episode_id long, content binary"
        )
        tr = runner.run_transcription(
            wh, audio, chunk_bytes=inputs.chunk_size(content, N_CHUNKS)
        )
        return (episode_id, link), runner.run_nlp(wh, tr)

    def _session(self, wh, pod, episode_id) -> list[Op]:
        """One dashboard session; each request takes its parameters
        from the previous responses, as the dropdown callbacks do."""
        state = {"title": pod.title, "eid": episode_id, "pid": None, "etype": None}

        def build(kind):
            read = wh.read
            if kind == "podcasts":
                return analytics.distinct_podcasts(read("podcast_dimension"))
            if kind == "episodes":
                return analytics.episodes_newest_first(read("episode_dimension"), state["pid"])
            if kind == "next_undownloaded":
                return analytics.next_undownloaded_episode(
                    read("episode_dimension"), read("podcast_dimension"), state["title"]
                )
            if kind == "entity_types":
                return analytics.distinct_entity_types(read("entity_dimension"), episode_id)
            if kind == "mentions":
                return analytics.entity_mention_counts(
                    read("entity_dimension"), episode_id, state["etype"]
                )
            if kind == "sentiment_pie":
                return analytics.sentiment_distribution(
                    read("entity_dimension"), read("sentence_dimension"),
                    episode_id, state["etype"],
                )
            if kind == "rolling_series":
                return analytics.sentiment_timeseries(read("sentence_dimension"), episode_id)
            if kind == "proportions":
                return analytics.entity_sentiment_proportions(
                    read("entity_dimension"), read("sentence_dimension"),
                    episode_id, state["etype"],
                )
            return analytics.episode_word_frequencies(read("sentence_dimension"), episode_id)

        ops = []
        for kind in SESSION:
            op = Op("request", kind)
            with self.tracer.span(f"request.{kind}", op="request"), op.timed():
                pdf = guarded(op, self._collect, build, kind)
            ops.append(op)
            if pdf is None:
                continue
            rows = [tuple(r) for r in pdf.itertuples(index=False)]
            if kind == "podcasts":
                state["pid"] = next((r[1] for r in rows if r[0] == pod.title), -1)
            elif kind == "entity_types":
                # Zipf over the types in name order: skewed, seeded
                state["etype"] = inputs.zipf_pick(self.rng, sorted(r[0] for r in rows) or [""])
            self.checks.append(
                (op, lambda k=kind, r=rows, s=dict(state): self._check_request(k, r, s))
            )
        return ops

    def _collect(self, build, kind):
        df = build(kind)
        with self.tracer.span("collect"):
            return df.toPandas()

    def cleanup(self) -> None:
        """Nothing outside the run's directory."""

    # --- correctness, after the pass --------------------------------

    def run_checks(self) -> None:
        """Run every check of the last pass; a mismatch fails its op.
        Tables the warehouse does not hold yet get no view."""
        self._con = duckdb.connect()
        for view, table, glob in [
            ("tim", "time_dimension", "*.parquet"),
            ("pod", "podcast_dimension", "*.parquet"),
            ("ep", "episode_dimension", "*.parquet"),
            ("sent", "sentence_dimension", "*/*.parquet"),
            ("ent", "entity_dimension", "*/*.parquet"),
        ]:
            if not os.path.isdir(os.path.join(self.root, table)):
                continue
            path = os.path.join(self.root, table, glob)
            self._con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}', "
                "hive_partitioning = true)"
            )
        try:
            for op, check in self.checks:
                problem = check()
                if problem:
                    op.fail(problem)
        finally:
            self._con.close()

    def _sql(self, sql: str, params: dict | None = None) -> list[tuple]:
        return self._con.execute(sql, params or {}).fetchall()

    def _check_appended(self, got, want: dict) -> str | None:
        return None if got == want else f"appended {got}, expected {want}"

    def _check_refresh(self, got) -> str | None:
        base = {_date(i) for p in self.pods for i in p.items[:N_ITEMS]}
        new = {_date(i) for p in self.pods for i in p.items[N_ITEMS:]} - base
        want = {
            "time_dimension": len(new),
            "podcast_dimension": 0,
            "episode_dimension": N_PODCASTS * N_NEW_ITEMS,
        }
        return self._check_appended(got, want)

    def _check_load(self, op, got, want_link: str) -> str | None:
        if not got:
            return "no result"
        (_, link), counts = got
        if link != want_link:
            return f"loaded {link}, expected next undownloaded {want_link}"
        sentences, entities, _ = predict(self.audio[link])
        op.extra["sentences"] = len(sentences)
        want = {"sentence_dimension": len(sentences), "entity_dimension": len(entities)}
        return self._check_appended(counts, want)

    def _check_tables(self, episode_id: int, link: str) -> str | None:
        sentences, entities, n_chunks = predict(self.audio[link])
        dates = {_date(i) for p in self.pods for i in p.items}
        want = [
            ("dates", "SELECT count(*) FROM tim", len(dates)),
            ("podcasts", "SELECT count(*) FROM pod", N_PODCASTS),
            ("episodes", "SELECT count(*) FROM ep", N_PODCASTS * (N_ITEMS + N_NEW_ITEMS)),
            ("downloaded", "SELECT count(*) FROM ep WHERE downloaded", 1),
            ("num_chunks", f"SELECT max(num_chunks) FROM ep WHERE episode_id = {episode_id} "
             "AND downloaded", n_chunks),
            ("other num_chunks", "SELECT count(*) FROM ep WHERE num_chunks <> 0", 1),
            ("sentences", "SELECT count(*) FROM sent", len(sentences)),
            ("entities", "SELECT count(*) FROM ent", len(entities)),
        ]
        for what, sql, n in want:
            got = self._sql(sql)[0][0]
            if got != n:
                return f"{what}: {got} in the warehouse, expected {n}"
        labels = Counter(fake_sentiment(s)["Sentiment"] for s in sentences)
        stored = Counter(dict(self._sql(
            "SELECT overall_sentiment, count(*) FROM sent GROUP BY 1"
        )))
        return None if labels == stored else f"sentiment labels {stored}, expected {labels}"

    def _check_request(self, kind: str, rows: list[tuple], state: dict) -> str | None:
        sql, ordered, tol = TWINS[kind]
        params = {k: v for k, v in state.items() if f"${k}" in sql}
        problem = same_rows(rows, self._sql(sql, params), ordered, tol)
        return problem and f"{kind}: {problem}"
