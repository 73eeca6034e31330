"""Pure-Python crawl simulator — the order/membership oracle.

Independently re-implements the reference scheduling semantics (priority
queue + per-host politeness budget + retry backoff + URL-seen set) on the
same synthetic corpus, WITHOUT Spark and WITHOUT the XML/HTML parse stage
(discoveries come straight from the corpus generator's ground truth).

Tests assert the Spark engine's per-round scheduled URL *order* and the
final URL-seen membership match this simulator exactly (SURVEY.md §5
"crawl-order equality").
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urlparse

from .. import synth
from ..functions.canon import (
    canonicalize_one, collection_url, thing_url, user_url,
)
from .frontier import MAX_ATTEMPTS, RETRYABLE, budget_k


@dataclass
class SimRow:
    url_canon: str
    host: str
    priority: int
    discovery_round: int
    callback_kind: str
    attempt: int = 0
    not_before_round: int = 0


@dataclass
class SimResult:
    # (round, host) -> ordered list of url_canon actually scheduled
    schedule: dict = field(default_factory=dict)
    seen: set = field(default_factory=set)
    fetched_ok: list = field(default_factory=list)


def _discoveries(row: SimRow, n_browse: int, n_games: int,
                 n_users: int,
                 comments_per_game: int = 2) -> list[tuple[str, int, str]]:
    """Ground-truth discoveries per URL (mirrors the corpus generator,
    not the parser — an independent path)."""
    out: list[tuple[str, int, str]] = []
    if row.callback_kind == "bgg_browse":
        page = int(row.url_canon.rsplit("/", 1)[1])
        gids = synth.page_games(page, n_games)
        for i in range(0, len(gids), 10):
            out.append((thing_url(gids[i:i + 10]), 0, "bgg_thing"))
        if page < n_browse:
            out.append((synth.browse_url(page + 1), 1, "bgg_browse"))
    elif row.callback_kind == "bgg_thing":
        from urllib.parse import parse_qs

        q = parse_qs(urlparse(row.url_canon).query)
        gids = [int(x) for x in q["id"][0].split(",")]
        users: list[str] = []
        for gid in sorted(gids):
            for u in synth.game_users(gid, n_users, comments_per_game):
                if u not in users:
                    users.append(u)
        for u in users:
            out.append((collection_url(u), 1, "bgg_collection"))
            out.append((user_url(u), 3, "bgg_user"))
    return out


def simulate(
    seeds: list[tuple[str, int]],
    n_rounds: int,
    n_browse: int,
    n_users: int,
    window_sec: float = 60.0,
    comments_per_game: int = 2,
) -> SimResult:
    """Replay the crawl.  ``seeds`` = [(raw_url, priority), ...]."""
    n_games = max(n_browse * 15, 30)
    res = SimResult()
    frontier: dict[str, SimRow] = {}

    for url, priority in seeds:
        canon = canonicalize_one(url)
        if canon is None or canon in frontier:
            continue
        host = urlparse(canon).hostname
        frontier[canon] = SimRow(
            canon, host, priority, 0, synth.callback_kind_for(canon)
        )
    res.seen = set(frontier)

    for rnd in range(1, n_rounds + 1):
        eligible = [r for r in frontier.values()
                    if r.not_before_round <= rnd]
        by_host: dict[str, list[SimRow]] = {}
        for r in eligible:
            by_host.setdefault(r.host, []).append(r)
        scheduled: list[SimRow] = []
        for host, rows in by_host.items():
            rows.sort(key=lambda r: (-r.priority, r.discovery_round,
                                     r.url_canon))
            k = budget_k(host, window_sec)
            batch = rows[:k]
            res.schedule[(rnd, host)] = [r.url_canon for r in batch]
            scheduled.extend(batch)
        if not scheduled:
            break
        discovered: dict[str, tuple[int, str]] = {}
        for r in scheduled:
            del frontier[r.url_canon]
            status = synth.status_for(r.url_canon)
            if status == 200:
                res.fetched_ok.append(r.url_canon)
                for url, prio, kind in _discoveries(
                    r, n_browse, n_games, n_users, comments_per_game
                ):
                    canon = canonicalize_one(url)
                    prev = discovered.get(canon)
                    if prev is None or prio > prev[0]:
                        discovered[canon] = (prio, kind)
            elif status in RETRYABLE and r.attempt + 1 < MAX_ATTEMPTS:
                backoff = min(2 ** (r.attempt + 1), 4)
                frontier[r.url_canon] = SimRow(
                    r.url_canon, r.host, r.priority - 1, rnd,
                    r.callback_kind, r.attempt + 1, rnd + backoff,
                )
            # else: dropped (404 / max attempts)
        for canon, (prio, kind) in discovered.items():
            if canon in res.seen:
                continue
            res.seen.add(canon)
            host = urlparse(canon).hostname
            frontier[canon] = SimRow(
                canon, host, prio, rnd + 1, kind, 0, rnd + 1
            )
    return res
