"""The benchmark's statements: the cascade query's SQL twin, and the
JOB-shaped templates with seeded literal draws.

``CASCADE_SQL`` is the query ``workload/cascade.run_cascade`` builds
through ``Engine.reduce_and_join``, written as SQL. It keys the cascade
digests and is the text DuckDB runs for the cascade's oracle check; the
legs themselves run ``run_cascade``.

The texts are copied from ``tools/job_regime.py`` (same names). On the
benchmark's 1.3M-row fixture under the default config, with each
statement's fixed leg order:

- jq44: the transfer engages and wins (control / engine about 1.24 on
  ``job``, 1.14 on ``job_fresh``);
- jq10: the transfer engages; about a tie on ``job`` (1.01), a loss on
  ``job_fresh`` (0.90), where the engine also pays extraction, the
  host-plan passes and the cession dry run;
- jq54: the engine bails and should cost nothing (0.97 on ``job``; 0.77
  on ``job_fresh``, where the bail still pays extraction and the
  host-plan pass).

``job`` issues each template with its original literals (``fixed``), so
the texts repeat and every statement-keyed engine cache hits after
warm-up. ``job_fresh`` issues the same templates with literals drawn
from the seed (``Drawer``): year bounds, name prefixes from the
fixture's word pool, single-row keywords, studios, notes and countries.
A draw keeps the template's selectivity class (a single-row keyword
stays a single-row keyword, a 1/20 name prefix stays a 1/20 prefix),
and no text repeats within a run or equals a fixed text. Draws that
would change the work are kept narrow: the year bound moves within
five years, and the country is one of the two 20% countries. jq44 has
only 20 name prefixes, so it also draws the name of its COUNT column.
"""

from __future__ import annotations

import random

from fixtures import WORDS, job_sizes

CASCADE_SQL = """
  SELECT f_cat, COUNT(*) AS cnt, SUM(f_amount) AS amt,
         MAX(m_pad) AS mid_pad_max, MAX(f_pad) AS fact_pad_max
  FROM fact, mid, dim
  WHERE f_mk = m_mk AND m_dk = d_dk AND d_seg = 0
  GROUP BY f_cat
"""

TEMPLATES = {
    "jq10": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person, movie_keyword, keyword,
           movie_company, company
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND kw_word = '{kw}'
        AND co_name LIKE '%{studio}%'
        AND p_name LIKE '{Word}%'
        AND t_year > {y}
    """,
    "jq44": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS {n}
      FROM person, castinfo, title, movie_keyword, keyword
      WHERE ci_pid = p_id AND ci_tid = t_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND p_name LIKE '{Word}, %'
        AND kw_word = 'character-name-in-title'
    """,
    "jq54": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND mc_note = '{note}'
        AND co_country = '{c1}'
        AND t_year BETWEEN {lo} AND {hi}
    """,
}

#: the literals of tools/job_regime.py's texts
FIXED = {
    "jq10": dict(kw="sequel", studio="Warner", Word="Theta", y=2000),
    "jq44": dict(Word="Sigma", n="n"),
    "jq54": dict(note="(presents) (co-production)", c1="[fr]", lo=1960,
                 hi=1970),
}

#: the fixture's two countries of equal (20%) frequency
COUNTRIES = ("[de]", "[fr]")


def fixed(name: str) -> str:
    return TEMPLATES[name].format(**FIXED[name])


class Drawer:
    """Seeded literal draws for ``job_fresh``; never repeats a text."""

    def __init__(self, seed: int, fact: int):
        self.rng = random.Random(seed * 7_777 + 13)
        self.nk = job_sizes(fact)["keyword"]
        # the fixed texts count as seen: a drawn text is never one that
        # the ``job`` workload caches
        self.seen: set = {fixed(n) for n in TEMPLATES}

    def _rare_kw(self) -> str:
        # keyword i is the single row '<word>-<i % 997>' unless it is
        # one of the marker ids; the (i % 20, i % 997) pair is unique
        # for i < 19,940, which every fixture size here satisfies
        while True:
            i = self.rng.randint(1, self.nk)
            if i not in (77, 78) and i % 500 != 9:
                return f"{WORDS[i % 20]}-{i % 997}"

    def _word(self) -> str:
        return self.rng.choice(WORDS)

    def _params(self, name: str) -> dict:
        r = self.rng
        if name == "jq10":
            return dict(kw=self._rare_kw(),
                        studio=r.choice(("Warner", "Universal")),
                        Word=self._word().capitalize(),
                        y=r.randint(1998, 2002))
        if name == "jq44":
            # only 20 prefixes: the drawn COUNT alias keeps texts new
            return dict(Word=self._word().capitalize(),
                        n=f"n_{r.randint(0, 10**9)}")
        if name == "jq54":
            lo = r.randint(1950, 2009)
            return dict(note=r.choice(("(presents) (co-production)",
                                       "(as metro pictures)")),
                        c1=r.choice(COUNTRIES), lo=lo, hi=lo + 10)
        raise KeyError(name)

    def draw(self, name: str) -> str:
        for _ in range(1000):
            text = TEMPLATES[name].format(**self._params(name))
            if text not in self.seen:
                self.seen.add(text)
                return text
        raise RuntimeError(f"{name}: literal space exhausted")
