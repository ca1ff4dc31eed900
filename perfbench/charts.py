"""Seeded daily charts and a pure-Python model of what the star schema must
hold after each one.

:class:`ChartFeed` produces each day's top-10 per source with realistic
overlap: most songs carry over at shifted ranks, some are new, some
re-enter after a gap (a NULL delta), songs share artists, the two sources
share songs, and an Apple Music URL sometimes becomes known for a song
already stored (``merge_song``'s update path).

:class:`StarModel` applies the reference's semantics to those batches:
``ON CONFLICT DO NOTHING`` upserts, the NULL-only apple URL patch, the T1
one-year retention purge relative to the batch's date, the FK cascade and
the T2/T3 orphan GC (the model of ``tools/maintain_replay_bench.py``,
extended to carry-over songs). It also renders the expected leaderboard
rows of ``plans.report.report_rows``.
"""

from __future__ import annotations

import datetime as dt
import random
import re

SOURCES = ["Spotify", "Apple Music"]
RANKS = 10
N_ARTISTS = 400  # songs draw 1-3 artists from this pool, so artists recur
_MD_SPECIALS = re.compile(r"([`*_{}\[\]()#+\-.!|$~])")


def escape_markdown(s: str) -> str:
    return _MD_SPECIALS.sub(r"\\\1", s)


def add_months_back_12(d: dt.date) -> dt.date:
    """Spark ``add_months(d, -12)``: same day a year back, clamped to the
    month's end (Feb 29 -> Feb 28)."""
    try:
        return d.replace(year=d.year - 1)
    except ValueError:
        return d.replace(year=d.year - 1, day=28)


class ChartFeed:
    """Deterministic chart generator; the same seed yields the same days."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed
        self.next_song = 0
        self.songs: dict[str, dict] = {}
        self.charts: dict[str, list[str]] = {s: [] for s in SOURCES}
        self.past: dict[str, list[str]] = {s: [] for s in SOURCES}

    def _new_song(self, day: dt.date) -> str:
        n = self.next_song
        self.next_song += 1
        isrc = f"QZ{self.seed % 1000:03d}{n:07d}"
        rng = self.rng
        k = 1 if rng.random() < 0.7 else rng.randint(2, 3)
        artists = sorted({f"AR{rng.randrange(N_ARTISTS):05d}" for _ in range(k)})
        reveal = None
        if rng.random() < 0.85:  # most songs get an apple URL at some point
            reveal = day + dt.timedelta(days=0 if rng.random() < 0.6
                                        else rng.randint(1, 40))
        self.songs[isrc] = {
            "name": f"Song {n} {rng.choice(['Blue', 'Night', 'Gold', 'Rain'])}",
            "duration": rng.randint(120_000, 300_000),
            "explicit": rng.random() < 0.2,
            "spotify": f"https://open.spotify.com/track/{isrc}",
            "apple": f"https://music.apple.com/song/{isrc}",
            "reveal": reveal,
            "artists": artists,
        }
        return isrc

    def day(self, day: dt.date) -> list[dict]:
        """The day's batch rows (``LANDING_SCHEMA`` fields), both sources."""
        rng = self.rng
        picked: dict[str, list[str]] = {}
        for src in SOURCES:
            other = [s for o in SOURCES if o != src for s in self.charts[o]]
            scored = []
            for pos, isrc in enumerate(self.charts[src]):
                if rng.random() < 0.08 + 0.012 * pos:
                    continue  # drops out
                scored.append((pos + rng.gauss(0, 1.5), isrc))
            taken = {i for _, i in scored}
            while len(scored) < RANKS:
                r = rng.random()
                gone = [i for i in self.past[src][-300:] if i not in taken]
                shared = [i for i in other if i not in taken]
                if r < 0.25 and gone:
                    isrc = rng.choice(gone)  # re-entry after a gap
                elif r < 0.55 and shared:
                    isrc = rng.choice(shared)  # charting on the other source
                else:
                    isrc = self._new_song(day)
                taken.add(isrc)
                scored.append((rng.uniform(-0.5, RANKS), isrc))
            chart = [i for _, i in sorted(scored)]
            picked[src] = chart
        rows = []
        for src in SOURCES:
            self.charts[src] = picked[src]
            self.past[src].extend(i for i in picked[src]
                                  if i not in self.past[src][-300:])
            for pos, isrc in enumerate(picked[src]):
                s = self.songs[isrc]
                known = s["reveal"] is not None and s["reveal"] <= day
                rows.append({
                    "position": pos,
                    "source": src,
                    "isrc": isrc,
                    "artists": [{"artist_id": a, "artist_name": f"Artist {a[2:]}"}
                                for a in s["artists"]],
                    "song_name": s["name"],
                    "song_duration_ms": s["duration"],
                    "is_explicit": s["explicit"],
                    "spotify_url": s["spotify"],
                    "apple_music_url": s["apple"] if known else None,
                    "batch_date": day,
                })
        return rows


class StarModel:
    """The four tables as Python sets/dicts, updated batch by batch."""

    def __init__(self):
        self.ranking: dict[tuple[str, dt.date, str], int] = {}
        self.song: dict[str, tuple] = {}
        self.artist: dict[str, str] = {}
        self.amap: set[tuple[str, str]] = set()
        self.patched = 0

    def apply(self, rows: list[dict]) -> None:
        for r in rows:
            for a in r["artists"]:
                self.artist.setdefault(a["artist_id"], a["artist_name"])
        batch_songs: dict[str, dict] = {}
        for r in rows:
            prev = batch_songs.get(r["isrc"])
            if prev is None or (prev["apple_music_url"] is None
                                and r["apple_music_url"] is not None):
                batch_songs[r["isrc"]] = r
        for isrc, r in batch_songs.items():
            cur = self.song.get(isrc)
            if cur is None:
                self.song[isrc] = (r["song_name"], r["song_duration_ms"],
                                   r["is_explicit"], r["spotify_url"],
                                   r["apple_music_url"])
            elif cur[4] is None and r["apple_music_url"] is not None:
                self.song[isrc] = cur[:4] + (r["apple_music_url"],)
                self.patched += 1
        for r in rows:
            for a in r["artists"]:
                self.amap.add((a["artist_id"], r["isrc"]))
            self.ranking.setdefault(
                (r["isrc"], r["batch_date"], r["source"]), r["position"] + 1
            )
        # T1 retention, then FK cascade, T2 and T3
        cutoff = add_months_back_12(max(r["batch_date"] for r in rows))
        self.ranking = {k: v for k, v in self.ranking.items() if k[1] > cutoff}
        live = {k[0] for k in self.ranking}
        self.song = {k: v for k, v in self.song.items() if k in live}
        self.amap = {m for m in self.amap if m[1] in self.song}
        mapped = {m[0] for m in self.amap}
        self.artist = {k: v for k, v in self.artist.items() if k in mapped}

    def report(self, day: dt.date) -> list[tuple]:
        """Expected ``report_rows`` output for ``day``, in order."""
        names: dict[str, list[str]] = {}
        for aid, isrc in self.amap:
            names.setdefault(isrc, []).append(self.artist[aid])
        out = []
        for src in SOURCES:
            todays = sorted(
                (rank, isrc) for (isrc, d, s), rank in self.ranking.items()
                if d == day and s == src
            )
            for rank, isrc in todays:
                prev = self.ranking.get((isrc, day - dt.timedelta(days=1), src))
                delta = None if prev is None else prev - rank
                if delta is None:
                    shown = "new"
                elif delta > 0:
                    shown = f"+{delta}"
                elif delta < 0:
                    shown = str(delta)
                else:
                    shown = "—"
                song = self.song[isrc]
                label = ", ".join(sorted(names[isrc])) + " - " + song[0]
                out.append((src, rank, escape_markdown(label), song[3], song[4],
                            shown))
        return out
