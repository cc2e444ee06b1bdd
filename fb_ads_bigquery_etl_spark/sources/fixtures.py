"""Fixture records: raw FB-API-shaped rows (RAW_INSIGHTS_SCHEMA's
nested shape, the one the paginated API source produces, FIXTURES.md §1),
without network access.
"""

from __future__ import annotations

# Canonical fixture set covering FIXTURES.md §1's required edge cases.
SAMPLE_RECORDS: list[dict] = [
    {  # normal row with dotted + novel action types
        "campaign_name": "Spring Sale",
        "ad_name": "Video A",
        "publisher_platform": "facebook",
        "impressions": "1520",
        "clicks": "34",
        "spend": "12.75",
        "date_start": "2026-01-15",
        "date_stop": "2026-01-15",
        "video_p25_watched_actions": [{"value": "210"}],
        "video_avg_time_watched_actions": [{"value": "7.4"}],
        "actions": [
            {"action_type": "link_click", "value": "30"},
            {"action_type": "offsite_conversion.fb_pixel_lead", "value": "3"},
            {"action_type": "new_metric_2026", "value": "5"},
        ],
        "account_id": "237000887",
    },
    {  # duplicate of row 1's key with different metrics (keep-first)
        "campaign_name": "Spring Sale",
        "ad_name": "Video A",
        "publisher_platform": "facebook",
        "impressions": "9999",
        "clicks": "1",
        "spend": "99.99",
        "date_start": "2026-01-15",
        "date_stop": "2026-01-15",
        "actions": [{"action_type": "link_click", "value": "1"}],
        "account_id": "237000887",
    },
    {  # empty video list + no actions key (zero-fill path)
        "campaign_name": "Spring Sale",
        "ad_name": "Video B",
        "publisher_platform": "instagram",
        "impressions": "800",
        "clicks": "12",
        "spend": "4.20",
        "date_start": "2026-01-15",
        "date_stop": "2026-01-15",
        "video_p25_watched_actions": [],
        "account_id": "237000887",
    },
    {  # out-of-range date (range-filter guard, backfill.py:263-269)
        "campaign_name": "Winter Promo",
        "ad_name": "Static 1",
        "publisher_platform": "audience_network",
        "impressions": "55",
        "clicks": "2",
        "spend": "0.80",
        "date_start": "2025-12-31",
        "date_stop": "2025-12-31",
        "actions": [{"action_type": "page_engagement", "value": "4"}],
        "account_id": "451000222",
    },
]
