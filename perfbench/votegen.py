"""Seeded vote-event generator owned by the benchmark.

The program under test sees only the JSON-lines files written here, in
the wire shape of ``schemas.VOTE_EVENT_SCHEMA`` (one enriched vote per
line, ``voting_time`` as a ``yyyy-MM-dd HH:mm:ss`` UTC string). Every
file is written atomically: into a staging directory first, then renamed
into the watched directory, so the file source never lists a torn file.

Re-sends are byte-identical copies of an earlier vote, so the tally does
not depend on which copy the deduplicator keeps. The expected tally is
therefore the number of distinct voters per candidate.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

CANDIDATES = [
    ("cand-0", "Alex Stone", "Management_Party"),
    ("cand-1", "Blair Rivers", "Savior_Party"),
    ("cand-2", "Casey Fields", "Tech_Republic_Party"),
]
FIRST = ["Alex", "Blair", "Casey", "Drew", "Emery", "Flynn", "Gray", "Haven"]
LAST = ["Stone", "Rivers", "Fields", "Woods", "Brooks", "Hayes", "Lane", "Cole"]
STATES = ["Alabama", "Colorado", "Georgia", "Kansas", "Montana", "Nevada", "Ohio", "Texas"]

#: Event time of offset 0: 2024-05-01 09:00:00 UTC.
BASE_EPOCH = 1714554000

_LINE = (
    '{"voter_id":"voter-%d","voting_time":"%s","voter_name":"%s %s",'
    '"party_affiliation":"%s","biography":"A brief bio of the candidate.",'
    '"campaign_platform":"Key campaign promises here.",'
    '"photo_url":"https://example.invalid/photo/%s","candidate_id":"%s",'
    '"candidate_name":"%s","date_of_birth":"%d-06-15T00:00:00.000Z",'
    '"gender":"%s","nationality":"US","registration_number":"reg-%07d",'
    '"address":{"street":"%d Main St","city":"City%d","state":"%s",'
    '"country":"United States","postcode":"%05d"},'
    '"email":"voter%d@example.invalid","phone_number":"555-0100",'
    '"cell_number":"555-0199","picture":"https://example.invalid/pic/%d",'
    '"registered_age":%d,"vote":1}'
)


#: Share of votes re-sent, identically, in the next file.
RESEND_SHARE = 0.02

#: A truncated event: from_json yields a null struct for it.
MALFORMED = '{"voter_id": "broken-%d", "voting_'


def _ts(offset_s: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(BASE_EPOCH + offset_s))


def vote_line(rng: random.Random, voter: int, offset_s: int) -> tuple[str, int]:
    """One vote event line and the index of the candidate it votes for."""
    c = rng.randrange(len(CANDIDATES))
    cid, cname, party = CANDIDATES[c]
    age = 18 + rng.randrange(73)
    line = _LINE % (
        voter, _ts(offset_s), rng.choice(FIRST), rng.choice(LAST), party,
        cid, cid, cname, 2024 - age, rng.choice(("male", "female")), voter,
        100 + rng.randrange(9000), voter % 50, rng.choice(STATES),
        rng.randrange(100000), voter, voter, age,
    )
    return line, c


def _write_atomic(staging: str, target_dir: str, name: str, lines: list[str]) -> str:
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    path = os.path.join(target_dir, name)
    os.rename(tmp, path)
    return path


class VoteFileWriter:
    """Writes the live workload's vote files, one per call, each at the
    time the caller says it is due.

    File ``i`` carries votes of distinct new voters with event times
    ``i`` to ``i + 59`` seconds after ``BASE_EPOCH``, so the watermark
    advances with every file as it does in a live election. The writer
    stamps each file's due time and the time its rename finished, so
    latency is measured from when the vote was due and writer lateness is
    reported. A small share of votes is re-sent, identically, in the next
    file, and every file carries one malformed line, which the parser
    must drop. A file's lines are drawn before it is due, so drawing
    them is not part of its latency.
    """

    def __init__(self, target_dir: str, staging: str, seed: int, votes_per_file: int):
        os.makedirs(target_dir, exist_ok=True)
        os.makedirs(staging, exist_ok=True)
        self.target_dir, self.staging = target_dir, staging
        self.rng = random.Random(seed)
        self.votes_per_file = votes_per_file
        self.tally: Counter = Counter()  # candidate_id -> distinct voters written
        self.due: dict[str, float] = {}  # file name -> due wall time (epoch s)
        self.written: dict[str, float] = {}  # file name -> rename finished (epoch s)
        self.i = 0
        self._next = self._file_lines(0, [])

    def _file_lines(self, i: int, carry: list[str]) -> tuple[list[str], list[str], Counter]:
        lines, nxt, tally = list(carry), [], Counter()
        base = i * self.votes_per_file
        for j in range(self.votes_per_file):
            line, c = vote_line(self.rng, base + j, i + j % 60)
            tally[CANDIDATES[c][0]] += 1
            lines.append(line)
            if self.rng.random() < RESEND_SHARE:
                nxt.append(line)
        lines.insert(self.rng.randrange(len(lines) + 1), MALFORMED % i)
        return lines, nxt, tally

    def write(self, due: float) -> str:
        """Write the next file at wall time ``due`` (epoch s) and return
        its name."""
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        lines, carry, tally = self._next
        name = f"votes-{self.i:06d}.json"
        _write_atomic(self.staging, self.target_dir, name, lines)
        self.written[name] = time.time()
        self.due[name] = due
        self.tally.update(tally)
        self.i += 1
        self._next = self._file_lines(self.i, carry)
        return name
