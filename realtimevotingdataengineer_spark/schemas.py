"""Engine schemas — the single source of truth (SURVEY.md §1.4).

The reference declares its schemas twice (SQL DDL at main.py:18-61, a
PySpark StructType at spark-streaming.py:35-62); here the StructTypes are
canonical and any DDL derives from them.
"""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(name: str) -> StructField:
    return StructField(name, StringType(), True)


#: Nested address struct — the JSON/Kafka form of a voter's address
#: (main.py:102-108). The relational form flattens to address_* columns
#: (main.py:37-41, flatten rule main.py:127-129).
ADDRESS_SCHEMA = StructType(
    [_s("street"), _s("city"), _s("state"), _s("country"), _s("postcode")]
)

#: candidates table (main.py:18-27): 3 rows, one per party.
CANDIDATE_SCHEMA = StructType(
    [
        _s("candidate_id"),
        _s("candidate_name"),
        _s("party_affiliation"),
        _s("biography"),
        _s("campaign_platform"),
        _s("photo_url"),
    ]
)

#: voters table, nested/event form (main.py:95-114).
VOTER_SCHEMA = StructType(
    [
        _s("voter_id"),
        _s("voter_name"),
        _s("date_of_birth"),  # ISO-8601 string, deliberately NOT a date (main.py:33,98)
        _s("gender"),
        _s("nationality"),
        _s("registration_number"),
        StructField("address", ADDRESS_SCHEMA, True),
        _s("email"),
        _s("phone_number"),
        _s("cell_number"),
        _s("picture"),
        StructField("registered_age", IntegerType(), True),
    ]
)

#: The enriched vote event on votes_topic — the dict-union
#: voter ∪ candidate ∪ {voting_time, vote} (voting.py:100-103), declared
#: schema at spark-streaming.py:35-62: 20 top-level fields + nested
#: address. voting_time travels as a 'yyyy-MM-dd HH:mm:ss' UTC string
#: (voting.py:101) and is coerced to TimestampType by from_json.
VOTE_EVENT_SCHEMA = StructType(
    [
        _s("voter_id"),
        StructField("voting_time", TimestampType(), True),
        _s("voter_name"),
        _s("party_affiliation"),
        StructField("biography", StringType(), True),
        _s("campaign_platform"),
        _s("photo_url"),
        _s("candidate_id"),
        _s("candidate_name"),
        _s("date_of_birth"),
        _s("gender"),
        _s("nationality"),
        _s("registration_number"),
        StructField("address", ADDRESS_SCHEMA, True),
        _s("email"),
        _s("phone_number"),
        _s("cell_number"),
        _s("picture"),
        StructField("registered_age", IntegerType(), True),
        StructField("vote", IntegerType(), True),
    ]
)
