"""The 31-entry query battery (entity type code -> natural-language query).

Verbatim from the reference's public demo battery
(/root/reference/demo/app.py:17-49); also loaded from JSON at
/root/reference/api/bert_qasl_predictor.py:39-42.  In Spark it travels to
the workers as a broadcast variable (J1: the docs x queries expansion runs
inside the scorer UDF, never as a shuffle).
"""

from __future__ import annotations

QUERIES: dict[str, str] = {
    "ADD": "入院日期",
    "DCD": "出院日期",
    "SGN": "手術及處置名稱",
    "DTN": "治療及藥品名稱",
    "ICD": "入加護病房日期",
    "OCD": "出加護病房日期",
    "IBD": "入燒燙傷病房日期",
    "OBD": "出燒燙傷病房日期",
    "IND": "入負壓病房日期",
    "OND": "出負壓病房日期",
    "EMD": "急診單獨日期",
    "EMDS": "急診起始日期",
    "EMDE": "急診結束日期",
    "EMC": "急診次數",
    "OPD": "門診單獨日期",
    "OPDS": "門診起始日期",
    "OPDE": "門診結束日期",
    "OPC": "門診次數",
    "RTD": "放療單獨日期",
    "RTDS": "放療起始日期",
    "RTDE": "放療結束日期",
    "RTC": "放療次數",
    "SGD": "手術單獨日期",
    "SGDS": "手術起始日期",
    "SGDE": "手術結束日期",
    "SGC": "手術次數",
    "CTD": "化療單獨日期",
    "CTDS": "化療起始日期",
    "CTDE": "化療結束日期",
    "CTC": "化療次數",
    "DPN": "就診科別",
}

# Priority table for flat-projection overlap resolution (D4),
# /root/reference/data_process/df2qasl.py:121-149.
PRIORITY: dict[str, float] = {
    "OPC": 0.01, "EMC": 0.01, "CTC": 0.02, "RTC": 0.02, "ADD": 0,
    "OPD": 1, "OPDS": 1.5, "OPDE": 1.5, "CTD": 1.6, "CTDS": 1.7,
    "RTD": 1.6, "RTDS": 1.7, "EMD": 2, "EMDS": 2.5, "EMDE": 2.5,
    "IND": 2.6, "ICD": 2.6, "IBD": 2.6, "SGD": 3, "SGDS": 3.5,
    "DCD": 5, "OCD": 5.1, "OND": 5.1, "OBD": 5.1, "CTDE": 5.1,
    "RTDE": 5.1, "SGDE": 5.1,
    # Types present in the battery but absent from the reference priority
    # table (SGN/DTN/DPN never collide with date spans there); rank lowest.
    "SGN": -1, "DTN": -1, "DPN": -1,
}
