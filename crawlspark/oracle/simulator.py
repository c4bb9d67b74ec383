"""Pure-Python reference-semantics crawl oracle (SURVEY.md §5.2).

Re-implements, single-threaded and deterministically, exactly the epoch
semantics the Spark engine executes (``crawlspark.plans.epoch``): priority
prefix rule, retry-supersede, first-seen dedup, robots split, backoff gates,
integer token-bucket admission in global (priority, seq, url_hash) order,
deterministic fetch outcomes, payload validation via the shared numpy codecs,
and the terminal-status seen-set update.

This is the golden producer for the north_rule parity check: *crawl ordering
and final URL-seen set equal under the same seed list + politeness budget*.
The loop mirrors the reference crawler's control flow
(/root/reference/src/infrastructure/github_api.py:467-686: rate-limit gate ->
fetch page -> per-node dedup/filter -> convert -> yield; stratum advance on
exhaustion) with the crawl-domain analogs defined in FIXTURES.md.

No Spark imports here — only numpy/pandas + the shared pure modules.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .. import codecs
from ..config import CrawlConfig, choose_prefix, fetch_outcome_per_mille


def supersede_rows(pending: list[dict]) -> list[dict]:
    """One row per url_hash: keep the first by (attempt desc, not_before desc,
    priority asc, seq asc) — identical to operators.dedup.supersede."""
    best: dict[int, dict] = {}
    for r in pending:
        k = r["url_hash"]
        cur = best.get(k)
        key = (-int(r["attempt"]), -int(r["not_before_epoch"]),
               int(r["priority"]), int(r["seq"]))
        if cur is None or key < cur[0]:
            best[k] = (key, r)
    return [v[1] for v in best.values()]


def host_availability(budget_spec: dict, tokens: dict, backoff_until: dict,
                      epoch: int) -> dict:
    """Tokens each host may spend this epoch: 0 while backed off, else
    ``min(capacity, tokens + refill)``. ``budget_spec``: host ->
    (capacity, refill_per_epoch); ``tokens``/``backoff_until``: host -> int."""
    avail = {}
    for h, (cap, refill) in budget_spec.items():
        if epoch < backoff_until.get(h, 0):
            avail[h] = 0
        else:
            avail[h] = min(cap, tokens.get(h, 0) + refill)
    return avail


def admit_rows(gated: list[dict], avail: dict, batch_size: int) -> list[dict]:
    """Token-bucket admission in global (priority, seq, url_hash) order: each
    host takes at most ``avail[host]`` rows, then the first ``batch_size``
    survivors are admitted; list position is the admission_idx."""
    ordered = sorted(gated, key=lambda r: (int(r["priority"]), int(r["seq"]),
                                           int(r["url_hash"])))
    taken: dict[str, int] = {}
    host_admitted = []
    for r in ordered:
        h = r["host"]
        if taken.get(h, 0) < avail.get(h, 0):
            taken[h] = taken.get(h, 0) + 1
            host_admitted.append(r)
    return host_admitted[:batch_size]


@dataclass
class OracleState:
    seen: set = field(default_factory=set)              # url_hash
    tokens: dict = field(default_factory=dict)          # host -> int
    backoff_until: dict = field(default_factory=dict)   # host -> epoch
    retries: list = field(default_factory=list)         # frontier-shaped dicts
    remaining: dict = field(default_factory=dict)       # priority -> int
    log: list = field(default_factory=list)             # crawl_log dicts


class CrawlOracle:
    def __init__(self, frontier: pd.DataFrame, robots: pd.DataFrame,
                 budgets: pd.DataFrame, images: pd.DataFrame,
                 cfg: CrawlConfig):
        self.cfg = cfg
        self.frontier = frontier.to_dict("records")
        self.robots = {r["host"]: list(r["disallow_prefixes"])
                       for r in robots.to_dict("records")}
        self.budget_spec = {r["host"]: (int(r["capacity"]), int(r["refill_per_epoch"]))
                            for r in budgets.to_dict("records")}
        self.images = {r["image_id"]: r for r in images.to_dict("records")}
        st = OracleState()
        for r in budgets.to_dict("records"):
            st.tokens[r["host"]] = int(r["tokens"])
            st.backoff_until[r["host"]] = int(r["backoff_until_epoch"])
        for row in self.frontier:
            p = int(row["priority"])
            st.remaining[p] = st.remaining.get(p, 0) + 1
        self.st = st

    # -- helpers ----------------------------------------------------------

    @staticmethod
    def _path(url: str) -> str:
        rest = url.split("://", 1)[-1]
        slash = rest.find("/")
        return rest[slash:] if slash >= 0 else "/"

    def _robots_denied(self, row: dict) -> bool:
        prefixes = self.robots.get(row["host"], [])
        path = self._path(row["url"])
        return any(path.startswith(p) for p in prefixes)

    def _validate(self, image_id: str):
        img = self.images.get(image_id)
        if img is None:
            return None, False, False, False
        dec = codecs.decode_image(bytes(img["bytes"]), img["fmt"],
                                  int(img["w"]), int(img["h"]))
        ref = codecs.make_pixels(image_id, int(img["w"]), int(img["h"]))
        if codecs.is_lossless(img["fmt"]):
            psnr = None
            pix_ok = bool(np.array_equal(dec, ref))
        else:
            psnr = codecs.psnr_db(ref, dec)
            pix_ok = psnr >= 40.0
        cap_ok = codecs.make_caption(image_id) == img["caption"]
        ph_ok = codecs.phash64(dec) == int(img["phash"])
        return psnr, cap_ok, ph_ok, (pix_ok and cap_ok and ph_ok)

    # -- one epoch ---------------------------------------------------------

    def run_epoch(self, epoch: int) -> dict:
        cfg, st = self.cfg, self.st
        p_max = choose_prefix(st.remaining, cfg.batch_size)

        pending = [dict(r, src="frontier") for r in self.frontier
                   if int(r["priority"]) <= p_max
                   and st.remaining.get(int(r["priority"]), 0) > 0]
        pending += [dict(r, src="retry") for r in st.retries]

        cand = [r for r in supersede_rows(pending)
                if r["url_hash"] not in st.seen
                and int(r["attempt"]) < cfg.max_attempts]

        denied = [r for r in cand if self._robots_denied(r)]
        allowed = [r for r in cand if not self._robots_denied(r)]
        gated = [r for r in allowed if int(r["not_before_epoch"]) <= epoch]

        avail = host_availability(self.budget_spec, st.tokens,
                                  st.backoff_until, epoch)
        admitted = admit_rows(gated, avail, cfg.batch_size)
        # tokens debited only for globally admitted rows (engine does the same)
        used: dict[str, int] = {}
        for r in admitted:
            used[r["host"]] = used.get(r["host"], 0) + 1
        for h in avail:
            st.tokens[h] = avail[h] - used.get(h, 0)

        # fetch + validate
        counters = dict(ok=0, invalid=0, retry=0, deferred=0, failed=0,
                        denied=len(denied))
        consumed: dict[int, int] = {}
        new_retries = []
        deferred_hosts = set()

        def _consume(r):
            if r["src"] == "frontier":
                p = int(r["priority"])
                consumed[p] = consumed.get(p, 0) + 1

        for r in denied:
            st.seen.add(r["url_hash"])
            _consume(r)
            self.st.log.append(dict(
                epoch=epoch, admission_idx=None, url_hash=r["url_hash"],
                url=r["url"], host=r["host"], image_id=r["image_id"],
                status="robots_denied", attempt=int(r["attempt"]),
                psnr_db=None, caption_ok=None, phash_ok=None))

        for idx, r in enumerate(admitted):
            _consume(r)
            attempt = int(r["attempt"])
            draw = fetch_outcome_per_mille(int(r["url_hash"]), attempt, epoch)
            entry = dict(epoch=epoch, admission_idx=idx,
                         url_hash=r["url_hash"], url=r["url"], host=r["host"],
                         image_id=r["image_id"], attempt=attempt,
                         psnr_db=None, caption_ok=None, phash_ok=None)
            if draw < cfg.transient_fail_per_mille:
                if attempt + 1 >= cfg.max_attempts:
                    entry["status"] = "failed"
                    st.seen.add(r["url_hash"])
                    counters["failed"] += 1
                else:
                    entry["status"] = "retry"
                    counters["retry"] += 1
                    nb = epoch + cfg.backoff_epochs(attempt + 1)
                    new_retries.append(dict(
                        {k: r[k] for k in ("url", "url_hash", "host",
                                           "host_hash", "priority", "seq",
                                           "image_id", "discovered_at")},
                        attempt=attempt + 1, not_before_epoch=nb))
            elif draw < cfg.transient_fail_per_mille + cfg.secondary_limit_per_mille:
                entry["status"] = "deferred"
                counters["deferred"] += 1
                deferred_hosts.add(r["host"])
                new_retries.append(dict(
                    {k: r[k] for k in ("url", "url_hash", "host", "host_hash",
                                       "priority", "seq", "image_id",
                                       "discovered_at")},
                    attempt=attempt,
                    not_before_epoch=epoch + cfg.secondary_backoff_epochs))
            else:
                psnr, cap_ok, ph_ok, valid = self._validate(r["image_id"])
                entry.update(psnr_db=psnr, caption_ok=cap_ok, phash_ok=ph_ok)
                entry["status"] = "ok" if valid else "invalid_payload"
                counters["ok" if valid else "invalid"] += 1
                st.seen.add(r["url_hash"])
            self.st.log.append(entry)

        for h in deferred_hosts:
            st.backoff_until[h] = max(st.backoff_until.get(h, 0),
                                      epoch + cfg.secondary_backoff_epochs)
        for p, n in consumed.items():
            st.remaining[p] = max(0, st.remaining.get(p, 0) - n)
        st.retries = new_retries + [
            r for r in st.retries
            if r["url_hash"] not in {n["url_hash"] for n in new_retries}
            and r["url_hash"] not in st.seen
            and not any(a["url_hash"] == r["url_hash"] for a in admitted)
        ]
        counters["admitted"] = len(admitted)
        counters["p_max"] = p_max
        return counters

    def add_fallback(self, fallback: pd.DataFrame) -> None:
        """T9 fold-in: extend the frontier with broader lower-priority strata
        (mirrors plans.crawler.broaden_frontier exactly)."""
        rows = fallback.to_dict("records")
        self.frontier = self.frontier + rows
        for r in rows:
            p = int(r["priority"])
            self.st.remaining[p] = self.st.remaining.get(p, 0) + 1

    def run(self, max_epochs: int = 1000, stop_after_empty: int | None = None,
            fallback: pd.DataFrame | None = None,
            target_results: int | None = None) -> None:
        """Mirror of plans.crawler.run_crawl, including the T9 broadening
        rule: at the moment the crawl would terminate, if cumulative terminal
        results are below ``target_results``, fold ``fallback`` in once and
        continue."""
        cfg = self.cfg
        if stop_after_empty is None:
            stop_after_empty = max(cfg.backoff_max_epochs,
                                   cfg.secondary_backoff_epochs) + 1
        streak = 0
        total_terminal = 0
        fallback_added = False
        epoch = 0
        while epoch < max_epochs:
            c = self.run_epoch(epoch)
            total_terminal += (c["ok"] + c["invalid"] + c["failed"]
                               + c["denied"])
            streak = 0 if (c["admitted"] + c["denied"]) > 0 else streak + 1
            if streak >= stop_after_empty:
                if (fallback is not None and not fallback_added
                        and (target_results is None
                             or total_terminal < target_results)):
                    self.add_fallback(fallback)
                    fallback_added = True
                    streak = 0
                    epoch += 1
                    continue
                break
            epoch += 1

    # -- goldens -----------------------------------------------------------

    def golden_order(self) -> list[tuple[int, int, int]]:
        """(epoch, admission_idx, url_hash) of admitted fetch attempts."""
        return [(e["epoch"], e["admission_idx"], e["url_hash"])
                for e in self.st.log if e["admission_idx"] is not None]

    def golden_seen(self) -> set:
        return set(self.st.seen)
