"""Seeded payment input and the answer the topology must produce for it.

The expected sinks and balances are computed here in numpy, independently
of the package: Java ``Math.round`` FX (floor(x*0.8 + 0.5)) on USD, the
FOO/BAR rails filter and the GBP/USD currency filter. An account that never
sent has no balance (``None``), never 0.
"""

from __future__ import annotations

import os

import numpy as np

CURRENCIES = np.array(["GBP", "USD", "EUR"])
CURRENCY_P = [0.60, 1 / 3, 1 - 0.60 - 1 / 3]  # EUR is dropped by the topology
RAILS = np.array(["BANK_RAILS_FOO", "BANK_RAILS_BAR", "BANK_RAILS_XXX"])
RAILS_P = [1 / 3, 1 / 3, 1 / 3]  # XXX is filtered out
FX = 0.8


def account(i) -> str:
    return f"ACC-{i:06d}"


def never_sent(i) -> str:
    """Accounts outside the sender range: receive only, so no balance."""
    return f"ACC-N{i:05d}"


class Payments:
    """``n`` payments over ``n_accounts`` senders. ``zipf_s`` > 0 skews
    senders (rank r is drawn with weight 1/r^s); 0 draws them uniformly.
    ``tag`` keeps the payments of several sets from one seed apart."""

    def __init__(self, seed: int, n: int, n_accounts: int, zipf_s: float,
                 tag: str = "p"):
        rng = np.random.default_rng(
            [seed % 2**63, int.from_bytes(tag.encode(), "little")])
        if zipf_s > 0:
            w = 1.0 / np.arange(1, n_accounts + 1) ** zipf_s
            # a seeded permutation, so the hot accounts differ by seed
            perm = rng.permutation(n_accounts)
            self.sender = perm[rng.choice(n_accounts, n, p=w / w.sum())]
            self.hot = perm[:50]
        else:
            self.sender = rng.integers(0, n_accounts, n)
            self.hot = rng.choice(n_accounts, 50, replace=False)
        self.n = n
        self.n_accounts = n_accounts
        self.id_prefix = f"{tag}{seed}-"
        self.tag = tag
        self.amount = rng.integers(1, 100_000, n)
        self.currency = rng.choice(3, n, p=CURRENCY_P)
        self.rails = rng.choice(3, n, p=RAILS_P)
        self.receiver = rng.integers(0, n_accounts + 1000, n)
        self._names = [account(i) for i in range(n_accounts)] + [
            never_sent(i) for i in range(1000)]

    def render(self, lo: int, hi: int) -> str:
        """JSON lines for payments [lo, hi), one object per line."""
        names, cur, rails = self._names, CURRENCIES.tolist(), RAILS.tolist()
        return "".join(
            f'{{"paymentId":"{self.id_prefix}{i}","amount":{a},'
            f'"currency":"{cur[c]}","toAccount":"{names[t]}",'
            f'"fromAccount":"{names[s]}","rails":"{rails[r]}"}}\n'
            for i, a, c, t, s, r in zip(
                range(lo, hi), self.amount[lo:hi].tolist(),
                self.currency[lo:hi].tolist(), self.receiver[lo:hi].tolist(),
                self.sender[lo:hi].tolist(), self.rails[lo:hi].tolist(),
            )
        )

    def write_files(self, directory: str, rows_per_file: int) -> list[str]:
        """Render every payment into files of ``rows_per_file`` rows;
        returns their paths in release order."""
        os.makedirs(directory, exist_ok=True)
        files = []
        for k, lo in enumerate(range(0, self.n, rows_per_file)):
            hi = min(lo + rows_per_file, self.n)
            path = os.path.join(directory, f"{self.tag}-{k:06d}.json")
            with open(path, "w") as f:
                f.write(self.render(lo, hi))
                f.flush()
                os.fsync(f.fileno())  # no write-back of input in a timed region
            files.append(path)
        return files

    def expected(self) -> dict:
        """Sink counts and amount sums, and per-account balances."""
        return expected_outputs(
            self.amount, CURRENCIES[self.currency], RAILS[self.rails],
            self.sender, self.n_accounts,
        )


def expected_outputs(amount, currency, rails, sender, n_accounts) -> dict:
    """The topology's outputs, computed without Spark. ``sender`` holds
    account numbers in [0, n_accounts)."""
    amount = np.asarray(amount, dtype=np.int64)
    currency, rails = np.asarray(currency), np.asarray(rails)
    usd = currency == "USD"
    keep = ((currency == "GBP") | usd) & np.isin(rails, RAILS[:2])
    converted = np.where(
        usd, np.floor(amount * FX + 0.5).astype(np.int64), amount
    )
    out = {}
    for name, r in (("rails_foo", RAILS[0]), ("rails_bar", RAILS[1])):
        m = keep & (rails == r)
        out[name] = (int(m.sum()), int(converted[m].sum()))
    sent = np.asarray(sender)[keep]
    total = np.zeros(n_accounts, dtype=np.int64)
    np.add.at(total, sent, converted[keep])
    out["balances"] = {
        account(a): int(total[a]) for a in np.unique(sent).tolist()
    }
    return out


def merge_expected(*parts: dict) -> dict:
    """The expected outputs of the union of several payment sets."""
    out = {"rails_foo": (0, 0), "rails_bar": (0, 0), "balances": {}}
    for part in parts:
        for k in ("rails_foo", "rails_bar"):
            out[k] = (out[k][0] + part[k][0], out[k][1] + part[k][1])
        for acct, v in part["balances"].items():
            out["balances"][acct] = out["balances"].get(acct, 0) + v
    return out
