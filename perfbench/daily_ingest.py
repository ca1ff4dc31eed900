"""``daily_ingest``: the paper's daily ETL, end to end.

Set-up seeds a chart-history catalog with ``Catalog.commit_tables``
holding exactly one retained year (the state the pipeline itself reaches
after a year of batches, computed by the model), then replays one warm-up
day, so each timed day inserts one date and purges one. Each timed cycle
is one cron day:

- write: the day's batch lands as one parquet file and
  ``run_landing_stream`` drains it (``availableNow``) through
  ``run_daily_batch``; timed until the 4-table commit is visible;
- read: ``all_rankings_with_delta_view`` -> ``report_rows`` ->
  ``render_markdown`` for that date.

Every report is checked against the model (10 rows per source, each
delta equal to ``prev_rank - rank`` or NULL); the four tables are checked
against the model at the end.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa

from charts import SOURCES, ChartFeed, StarModel
from datagen import write_landing_file

#: Replay days start here, mid-month, so no timed day crosses a month end
#: (where a one-year cutoff can purge two dates or none).
FIRST_DAY = dt.date(2025, 6, 5)
HISTORY_DAYS = 400  # model days fed before the retained year begins


def _landing_table(rows) -> pa.Table:
    from daily_top_songs_etl_spark.streaming.daily_stream import LANDING_SCHEMA
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.Table.from_pylist(rows, schema=to_arrow_schema(LANDING_SCHEMA))


class DailyIngest:
    name = "daily_ingest"
    release_pins = False  # a long-lived cron session: pins are the program's
    gc_every = 0

    def __init__(self, work_dir: str, seed: int):
        self.root = os.path.join(work_dir, "daily")
        self.cat_root = os.path.join(self.root, "catalog")
        self.landing = os.path.join(self.root, "landing")
        self.ckpt = os.path.join(self.root, "checkpoint")
        self.feed = ChartFeed(seed)
        self.model = StarModel()
        self.next_day = FIRST_DAY
        self.days = 0
        d = FIRST_DAY - dt.timedelta(days=HISTORY_DAYS)
        while d < FIRST_DAY:  # the year of history the seed will hold
            self.model.apply(self.feed.day(d))
            d += dt.timedelta(days=1)
        self.seeded_rows = len(self.model.ranking)

    # ------------------------------------------------------------ set-up
    def setup(self, spark) -> None:
        from daily_top_songs_etl_spark.catalog import Catalog

        self.spark = spark
        self.cat = Catalog(spark, self.cat_root)
        self._seed(spark)
        self._day(None)  # warm-up day: JIT, stream source init

    def _seed(self, spark) -> None:
        from daily_top_songs_etl_spark import schemas

        m = self.model
        rows = {
            "ranking": [(i, d, r, s) for (i, d, s), r in m.ranking.items()],
            "song": [(i,) + v for i, v in m.song.items()],
            "artist": list(m.artist.items()),
            "artist_song_map": sorted(m.amap),
        }
        self.cat.commit_tables({
            name: spark.createDataFrame(data, schemas.TABLE_SCHEMAS[name])
            for name, data in rows.items()
        })

    # -------------------------------------------------------------- cycle
    def cycle(self, rec) -> None:
        self._day(rec)

    def _day(self, rec) -> None:
        """One cron day; timed and checked unless ``rec`` is None."""
        from daily_top_songs_etl_spark.plans import report, views
        from daily_top_songs_etl_spark.streaming import daily_stream

        day = self.next_day
        self.next_day += dt.timedelta(days=1)
        rows = self.feed.day(day)
        self.model.apply(rows)
        write_landing_file(_landing_table(rows), self.landing,
                           f"day-{day.isoformat()}.parquet")

        def ingest():
            daily_stream.run_landing_stream(
                self.spark, self.landing, self.cat, self.ckpt
            )

        def render():
            c = self.cat
            view = views.all_rankings_with_delta_view(
                c.read("ranking"), c.read("artist"), c.read("song"),
                c.read("artist_song_map"),
            )
            got = report.report_rows(view, day).collect()
            return got, report.render_markdown(got, day)

        if rec is None:
            ingest()
            render()
            return
        self.days += 1
        rec.op("ingest_day", ingest)
        got, md = rec.op("report", render)
        want = self.model.report(day)
        got = rec.tamper([
            (r["platform"], r["rank"], r["song_md"], r["spotify_url"],
             r["apple_music_url"], r["delta_display"]) for r in got
        ])
        per_src = [sum(1 for r in got if r[0] == s) for s in SOURCES]
        table_rows = sum(1 for line in md.splitlines()
                         if line.startswith("| ") and "[link]" in line)
        diff = [(g, w) for g, w in zip(got, want) if g != w][:1]
        rec.verify(
            got == want and per_src == [10, 10] and table_rows == 20,
            f"report {day}: {len(got)} rows {per_src}, first diff {diff}",
        )

    # ------------------------------------------------------------- checks
    def finish(self, rec) -> None:
        c, m = self.cat, self.model
        got = {
            "ranking": {(r.isrc, r.ranking_date, r.ranking_source): r.rank
                        for r in c.read("ranking").collect()},
            "song": {r.isrc: (r.song_name, r.song_duration_ms, r.is_explicit,
                              r.spotify_url, r.apple_music_url)
                     for r in c.read("song").collect()},
            "artist": {r.artist_id: r.artist_name
                       for r in c.read("artist").collect()},
            "artist_song_map": {(r.artist_id, r.isrc)
                                for r in c.read("artist_song_map").collect()},
        }
        want = {"ranking": m.ranking, "song": m.song, "artist": m.artist,
                "artist_song_map": m.amap}
        for name in want:
            rec.verify(got[name] == want[name],
                             f"table {name}: {len(got[name])} rows, "
                             f"model {len(want[name])}")
        dates = len({k[1] for k in got["ranking"]})  # read from the catalog
        rec.verify(dates == 365, f"retained dates {dates} != 365")

    def catalog_roots(self) -> list[str]:
        return [self.cat_root]

    def inputs(self) -> dict:
        return {
            "seeded_fact_rows": self.seeded_rows,
            "days_replayed": self.days + 1,  # the warm-up day included
            "rows_per_day": 2 * 10,
            "apple_url_patches": self.model.patched,  # merge_song updates
        }
