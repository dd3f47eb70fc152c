"""Pipeline plan construction & execution (SURVEY.md §3.4): spec →
lazily-composed DataFrame stages → lazy local checkpoint → rebalanced
sink write → DLQ → metrics → checkpoint commit."""
