"""Pure-Python model of what the employee sync pipeline must produce.

Written from the reference semantics, not from the program's code:
email repair and phone stripping, SCD-1 merge (the newest feed value
wins, ids missing from a later feed keep their last row) and the
watermark. The benchmark compares the program's final state with these.
"""

from __future__ import annotations

import datetime
import re

# RFC-5322 subset for emails; E.164 for phones once spaces and hyphens
# are stripped. Invalid emails become ``invalid+<id>@example.invalid``;
# invalid phones are kept as received.
_EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_PHONE = re.compile(r"\+?[0-9][0-9]{1,14}")

EMPLOYEE_COLS = ["fullname", "shortname", "position", "email", "phone"]


def clean_employee(row: dict) -> tuple:
    email = row["email"]
    if not _EMAIL.fullmatch(email):
        email = f"invalid+{row['id']}@example.invalid"
    phone = row["phone"]
    stripped = re.sub("[ -]", "", phone)
    if _PHONE.fullmatch(stripped):
        phone = stripped
    return (row["fullname"], row["shortname"], row["position"], email, phone)


class EmployeeModel:
    """SCD-1 snapshot keyed by id plus the watermark date."""

    def __init__(self) -> None:
        self.snapshot: dict[int, tuple] = {}
        self.watermark: datetime.date | None = None

    def apply(self, feed_rows: dict[int, dict], feed_date: datetime.date) -> None:
        for i, row in feed_rows.items():
            self.snapshot[i] = clean_employee(row)
        self.watermark = feed_date
