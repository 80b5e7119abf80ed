"""Seeded JIRA issue generator and an in-process mock JIRA search server.

The generator owns a logical clock. Every sync is called with ``now=`` set
to that clock, and every change it plants carries an ``updated`` strictly
between the previous sync's ``now`` and this one's. The program's change
filter keeps ``updated > last_synced``, and ``last_synced`` is the sync's
``now``, so what a poll should sync is known exactly before it runs.

The server answers ``/rest/api/2/search`` with pre-rendered pages in the
``jira_rest.RESPONSE_SCHEMA`` shape. It sends ``X-RateLimit-*`` headers
whose budget never runs low, so the client's budget path runs without
sleeping.
"""

from __future__ import annotations

import hashlib
import json
import random
import threading
import time
import urllib.parse
from datetime import datetime, timedelta
from http.server import BaseHTTPRequestHandler, HTTPServer

PAGE_SIZE = 100

#: project -> share of the corpus. Skewed on purpose, so that the state
#: partitions and git repositories a poll touches differ in size.
PROJECT_WEIGHTS = {
    "PROJ": 40,
    "BENCH": 24,
    "MEM": 16,
    "CONC": 10,
    "RHOAIENG": 7,
    "MY-PROJECT": 3,
}

ISSUETYPES = ["Story", "Story", "Task", "Bug", "Sub-task", "Improvement",
              "Documentation", "Test"]
STATUSES = [("To Do", "new"), ("In Progress", "indeterminate"),
            ("In Review", "indeterminate"), ("Done", "done")]
PRIORITIES = ["Blocker", "Critical", "High", "Medium", "Low"]
LINK_TYPES = ["Blocks", "Clones", "Relates"]

#: the projects each poll edits, in turn: the largest project alone (one
#: state partition, one repository), then the five others. Every full
#: rotation has the same shape; the seed chooses which issues change and how.
POLL_PROJECTS = [("PROJ",), ("BENCH", "MEM", "CONC", "RHOAIENG", "MY-PROJECT")]

#: logical time of the initial backfill; poll r runs at T0 + r hours
T0 = datetime(2024, 6, 1)
POLL_STEP = timedelta(hours=1)


def jira_time(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.000+0000")


class Corpus:
    """The upstream JIRA state: key -> issue payload, grown and edited by
    seeded polls. Everything here is a pure function of the seed."""

    def __init__(self, seed: int, n_issues: int):
        self.rng = random.Random(seed)
        self.issues: dict[str, dict] = {}
        self.next_id = {p: 1 for p in PROJECT_WEIGHTS}
        self.epics: dict[str, list[str]] = {p: [] for p in PROJECT_WEIGHTS}
        # project sizes are fixed by the weights; the seed varies content
        total = sum(PROJECT_WEIGHTS.values())
        for p, w in PROJECT_WEIGHTS.items():
            for _ in range(round(n_issues * w / total)):
                self._new_issue(p, T0 - timedelta(days=30))

    def _new_issue(self, project: str, latest: datetime) -> str:
        rng = self.rng
        n = self.next_id[project]
        self.next_id[project] = n + 1
        key = f"{project}-{n}"
        created = latest - timedelta(minutes=rng.randrange(1, 60 * 24 * 300))
        is_epic = n % 20 == 1
        itype = "Epic" if is_epic else rng.choice(ISSUETYPES)
        fields = {
            "summary": f"{'Epic: ' if is_epic else ''}Issue {key}",
            "description": None if n % 7 == 0 else f"Description for {key}",
            "assignee": None if n % 9 == 0 else {
                "displayName": f"user{n % 50}",
                "emailAddress": f"user{n % 50}@example.com"},
            "reporter": {"displayName": f"user{(n + 7) % 50}",
                         "emailAddress": f"user{(n + 7) % 50}@example.com"},
            "created": jira_time(created),
            "priority": {"name": rng.choice(PRIORITIES)},
            "issuetype": {"name": itype},
            "project": {"key": project},
            "subtasks": [],
            "issuelinks": [],
            "customfield_12311140": None,
        }
        # every issue carries at least one relationship, so every project
        # in a change batch gets a symlink-tree commit
        if is_epic:
            self.epics[project].append(key)
            fields["issuelinks"].append({
                "type": {"name": "Relates"},
                "outwardIssue": {"key": f"{project}-1",
                                 "fields": {"summary": f"Issue {project}-1"}},
            })
        else:
            fields["customfield_12311140"] = self.epics[project][-1]
            if rng.random() < 0.25:
                target = f"{project}-{rng.randrange(1, n + 1)}"
                fields["issuelinks"].append({
                    "type": {"name": rng.choice(LINK_TYPES)},
                    "outwardIssue": {"key": target,
                                     "fields": {"summary": f"Issue {target}"}},
                })
        if itype == "Bug" and rng.random() < 0.5:
            fields["subtasks"].append({"key": f"{project}-{n + 1}"})
        issue = {"key": key, "fields": fields}
        self._touch(issue, created)
        self.issues[key] = issue
        return key

    def _touch(self, issue: dict, updated: datetime) -> None:
        name, cat = self.rng.choice(STATUSES)
        issue["fields"]["status"] = {"name": name,
                                     "statusCategory": {"key": cat}}
        issue["fields"]["updated"] = jira_time(updated)

    def poll(self, r: int, n_updates: int, n_new: int, n_stale: int,
             redeliver_changed: bool = False) -> "Poll":
        """Plan poll r (r >= 1): edit n_updates synced issues and create
        n_new, all inside the logical hour that ends at this poll's now.
        The served batch is the changes, n_stale already-synced issues that
        did not change, and a second delivery of one of those unchanged
        issues. Edits stay inside the poll's POLL_PROJECTS entry.

        With ``redeliver_changed`` the second delivery is of an updated
        issue's new version instead. The sync must still write each
        distinct issue-version once: the program's commit ids are
        sha(key, updated) and its C4 rule says bumping N issues syncs
        exactly N, so a redelivery adds nothing. The program does not yet
        meet this (it counts and commits the redelivered version again),
        so the timed polls redeliver an unchanged issue and the self-test
        probes the changed-version case on its own."""
        rng = self.rng
        now = T0 + r * POLL_STEP
        lo = now - POLL_STEP
        projects = POLL_PROJECTS[(r - 1) % len(POLL_PROJECTS)]
        # each project gets a fixed share of the updates, so every poll of
        # one shape writes to the same repositories in the same amounts
        updated = []
        for p, quota in zip(projects, _shares(n_updates, projects)):
            pool = sorted((key for key in self.issues if project_of(key) == p),
                          key=_key_order)
            updated += rng.sample(pool, min(quota, len(pool)))

        def stamp() -> datetime:
            return lo + timedelta(seconds=rng.randrange(1, 3600))

        for key in updated:
            self._touch(self.issues[key], stamp())
        new = [self._new_issue(projects[i % len(projects)], lo)
               for i in range(n_new)]
        for key in new:
            self._touch(self.issues[key], stamp())
        changed = set(updated) | set(new)
        others = sorted((key for key in self.issues if key not in changed),
                        key=_key_order)
        stale = rng.sample(others, min(n_stale, len(others)))
        dup = updated[0] if redeliver_changed else stale[0]
        batch = [json.dumps(self.issues[key]) for key in updated + new + stale]
        batch.append(json.dumps(self.issues[dup]))
        rng.shuffle(batch)
        return Poll(now, batch, changed=updated + new, new=len(new))

    def snapshot(self) -> "Poll":
        """All current issues as one batch: the initial backfill."""
        keys = sorted(self.issues, key=_key_order)
        return Poll(T0, [json.dumps(self.issues[k]) for k in keys],
                    changed=keys, new=len(keys))

    def last_updated(self) -> dict[str, datetime]:
        return {k: datetime.strptime(v["fields"]["updated"][:19],
                                     "%Y-%m-%dT%H:%M:%S")
                for k, v in self.issues.items()}


def _shares(n: int, projects) -> list[int]:
    """n split over projects in proportion to their weights (largest
    remainder; ties go to the project listed first)."""
    w = [PROJECT_WEIGHTS[p] for p in projects]
    out = [n * x // sum(w) for x in w]
    by_rest = sorted(range(len(w)), key=lambda i: (-(n * w[i] % sum(w)), i))
    for i in by_rest[:n - sum(out)]:
        out[i] += 1
    return out


def _key_order(key: str) -> tuple[str, int]:
    p, n = key.rsplit("-", 1)
    return p, int(n)


def project_of(key: str) -> str:
    return key.rsplit("-", 1)[0]


class Poll:
    """One search result as the server will serve it, plus what a sync of
    it must report."""

    def __init__(self, now: datetime, issues_json: list[str],
                 changed: list[str], new: int):
        self.now = now
        self.issues_json = issues_json
        #: keys the sync must write, one entry per distinct issue-version
        self.changed = changed
        self.total = len(changed)
        self.new = new
        self.pages = render_pages(issues_json, PAGE_SIZE)

    def digest(self) -> str:
        return hashlib.sha256(b"".join(self.pages)).hexdigest()


def page_json(issues_json: list[str], start: int, size: int) -> bytes:
    chunk = issues_json[start:start + size] if size else []
    return (f'{{"startAt": {start}, "maxResults": {size}, '
            f'"total": {len(issues_json)}, "issues": ['
            + ", ".join(chunk) + "]}").encode()


def render_pages(issues_json: list[str], page_size: int) -> list[bytes]:
    return [page_json(issues_json, start, page_size)
            for start in range(0, max(len(issues_json), 1), page_size)]


class MockJira:
    """Search endpoint on a daemon thread. ``serve(poll)`` sets what the
    next sync fetches; ``requests`` counts every GET answered."""

    BUDGET = 1_000_000

    def __init__(self):
        self.poll: Poll | None = None
        self.requests = 0
        self._lock = threading.Lock()
        owner = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self):
                qs = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                start = int(qs.get("startAt", ["0"])[0])
                size = int(qs.get("maxResults", [str(PAGE_SIZE)])[0])
                with owner._lock:
                    owner.requests += 1
                    left = owner.BUDGET - owner.requests
                body = owner._page(start, size)
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.send_header("X-RateLimit-Remaining", str(left))
                self.send_header("X-RateLimit-Reset", str(time.time() + 3600))
                self.end_headers()
                self.wfile.write(body)

        self._srv = HTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._srv.serve_forever,
                                        daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._srv.server_port}"

    def _page(self, start: int, size: int) -> bytes:
        poll = self.poll
        i, off = divmod(start, PAGE_SIZE)
        if size == PAGE_SIZE and off == 0 and i < len(poll.pages):
            return poll.pages[i]
        return page_json(poll.issues_json, start, size)

    def serve(self, poll: Poll) -> None:
        self.poll = poll

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=10)
