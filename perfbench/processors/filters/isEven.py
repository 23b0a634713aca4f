"""isEven (src/filters/isEven.js): returning None drops the record; a null
num coerces to 0, which is even."""


def process(record: dict):
    return record if (0 if record["num"] is None else record["num"]) % 2 == 0 else None
