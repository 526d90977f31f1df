package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TextFunctions

/** Trained char-n-gram language ID vs the marker heuristic, on a
  * hand-written multilingual fixture (no external corpora — the point
  * is the METHOD: hashed n-gram NB beats a handful of stopword
  * markers, visibly, on held-out text).
  */
class LangIdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // hand-authored train/test sentences; test rows are HELD OUT
  private val corpus: Seq[(String, String, Boolean)] = Seq(
    // (lang, text, isTest)
    ("en", "The quick brown fox jumps over the lazy dog in the garden", false),
    ("en", "She sells sea shells by the sea shore every morning", false),
    ("en", "A journey of a thousand miles begins with a single step", false),
    ("en", "The weather is beautiful and the children are playing outside", false),
    ("en", "I would like a cup of coffee with milk and sugar please", false),
    ("en", "This library provides fast and scalable data processing", false),
    ("en", "The meeting was postponed until next Thursday afternoon", false),
    ("en", "Reading books helps you understand the world better", false),
    ("en", "The train arrives at the station at seven in the evening", true),
    ("en", "Many hands make light work when everyone helps together", true),
    ("en", "Fresh bread smells wonderful early in the morning", true),

    ("de", "Der schnelle braune Fuchs springt über den faulen Hund", false),
    ("de", "Die Kinder spielen im Garten und lachen über die Katze", false),
    ("de", "Ich möchte bitte eine Tasse Kaffee mit Milch und Zucker", false),
    ("de", "Das Wetter ist heute schön und die Sonne scheint hell", false),
    ("de", "Wir fahren am Wochenende mit dem Zug in die Berge", false),
    ("de", "Die Besprechung wurde auf nächsten Donnerstag verschoben", false),
    ("de", "Bücher lesen hilft dir, die Welt besser zu verstehen", false),
    ("de", "Der Zug kommt um sieben Uhr abends am Bahnhof an", false),
    ("de", "Viele Hände machen die Arbeit leicht, wenn alle helfen", true),
    ("de", "Frisches Brot riecht morgens wunderbar aus der Bäckerei", true),
    ("de", "Morgen besuchen wir unsere Großeltern auf dem Lande", true),

    ("fr", "Le renard brun saute rapidement par-dessus le chien paresseux", false),
    ("fr", "Les enfants jouent dans le jardin et rient avec le chat", false),
    ("fr", "Je voudrais une tasse de café avec du lait et du sucre", false),
    ("fr", "Le temps est magnifique et le soleil brille aujourd'hui", false),
    ("fr", "Nous prenons le train pour aller à la montagne ce week-end", false),
    ("fr", "La réunion a été reportée à jeudi prochain dans l'après-midi", false),
    ("fr", "Lire des livres aide à mieux comprendre le monde", false),
    ("fr", "Le train arrive à la gare à sept heures du soir", false),
    ("fr", "Beaucoup de mains rendent le travail léger quand tout le monde aide", true),
    ("fr", "Le pain frais sent merveilleusement bon le matin", true),
    ("fr", "Demain nous rendons visite à nos grands-parents à la campagne", true),

    ("es", "El zorro marrón salta rápidamente sobre el perro perezoso", false),
    ("es", "Los niños juegan en el jardín y se ríen con el gato", false),
    ("es", "Quisiera una taza de café con leche y azúcar por favor", false),
    ("es", "El tiempo es magnífico y el sol brilla mucho hoy", false),
    ("es", "Tomamos el tren para ir a la montaña este fin de semana", false),
    ("es", "La reunión fue aplazada hasta el jueves próximo por la tarde", false),
    ("es", "Leer libros ayuda a comprender mejor el mundo", false),
    ("es", "El tren llega a la estación a las siete de la tarde", false),
    ("es", "Muchas manos hacen el trabajo ligero cuando todos ayudan", true),
    ("es", "El pan fresco huele maravillosamente por la mañana", true),
    ("es", "Mañana visitamos a nuestros abuelos en el campo", true),

    ("pt", "A raposa marrom pula rapidamente sobre o cachorro preguiçoso", false),
    ("pt", "As crianças brincam no jardim e riem com o gato", false),
    ("pt", "Eu gostaria de uma xícara de café com leite e açúcar", false),
    ("pt", "O tempo está magnífico e o sol brilha muito hoje", false),
    ("pt", "Pegamos o trem para ir à montanha neste fim de semana", false),
    ("pt", "A reunião foi adiada para a próxima quinta-feira à tarde", false),
    ("pt", "Ler livros ajuda a compreender melhor o mundo", false),
    ("pt", "O trem chega à estação às sete horas da noite", false),
    ("pt", "Muitas mãos tornam o trabalho leve quando todos ajudam", true),
    ("pt", "O pão fresco cheira maravilhosamente pela manhã", true),
    ("pt", "Amanhã visitamos nossos avós no campo", true),

    ("it", "La volpe marrone salta rapidamente sopra il cane pigro", false),
    ("it", "I bambini giocano in giardino e ridono con il gatto", false),
    ("it", "Vorrei una tazza di caffè con latte e zucchero per favore", false),
    ("it", "Il tempo è magnifico e il sole splende molto oggi", false),
    ("it", "Prendiamo il treno per andare in montagna questo fine settimana", false),
    ("it", "La riunione è stata rinviata a giovedì prossimo nel pomeriggio", false),
    ("it", "Leggere libri aiuta a capire meglio il mondo", false),
    ("it", "Il treno arriva alla stazione alle sette di sera", false),
    ("it", "Molte mani rendono il lavoro leggero quando tutti aiutano", true),
    ("it", "Il pane fresco profuma meravigliosamente al mattino", true),
    ("it", "Domani visitiamo i nostri nonni in campagna", true),

    ("nl", "De snelle bruine vos springt over de luie hond in de tuin", false),
    ("nl", "De kinderen spelen in de tuin en lachen met de kat", false),
    ("nl", "Ik wil graag een kopje koffie met melk en suiker", false),
    ("nl", "Het weer is vandaag prachtig en de zon schijnt fel", false),
    ("nl", "We nemen de trein naar de bergen dit weekend", false),
    ("nl", "De vergadering is uitgesteld tot volgende week donderdag", false),
    ("nl", "Boeken lezen helpt je de wereld beter te begrijpen", false),
    ("nl", "De trein komt om zeven uur 's avonds aan op het station", false),
    ("nl", "Vele handen maken licht werk als iedereen meehelpt", true),
    ("nl", "Vers brood ruikt heerlijk in de vroege ochtend", true),
    ("nl", "Morgen bezoeken we onze grootouders op het platteland", true),

    ("sv", "Den snabba bruna räven hoppar över den lata hunden i trädgården", false),
    ("sv", "Barnen leker i trädgården och skrattar åt katten", false),
    ("sv", "Jag skulle vilja ha en kopp kaffe med mjölk och socker", false),
    ("sv", "Vädret är vackert idag och solen skiner starkt", false),
    ("sv", "Vi tar tåget till bergen i helgen", false),
    ("sv", "Mötet har skjutits upp till nästa torsdag eftermiddag", false),
    ("sv", "Att läsa böcker hjälper dig att förstå världen bättre", false),
    ("sv", "Tåget kommer till stationen klockan sju på kvällen", false),
    ("sv", "Många händer gör arbetet lätt när alla hjälper till", true),
    ("sv", "Färskt bröd doftar underbart tidigt på morgonen", true),
    ("sv", "Imorgon besöker vi våra morföräldrar på landet", true),

    ("pl", "Szybki brązowy lis skacze nad leniwym psem w ogrodzie", false),
    ("pl", "Dzieci bawią się w ogrodzie i śmieją się z kota", false),
    ("pl", "Poproszę filiżankę kawy z mlekiem i cukrem", false),
    ("pl", "Pogoda jest dziś piękna a słońce świeci jasno", false),
    ("pl", "W weekend jedziemy pociągiem w góry", false),
    ("pl", "Spotkanie zostało przełożone na przyszły czwartek po południu", false),
    ("pl", "Czytanie książek pomaga lepiej zrozumieć świat", false),
    ("pl", "Pociąg przyjeżdża na stację o siódmej wieczorem", false),
    ("pl", "Wiele rąk czyni pracę lekką gdy wszyscy pomagają", true),
    ("pl", "Świeży chleb pachnie cudownie wcześnie rano", true),
    ("pl", "Jutro odwiedzamy naszych dziadków na wsi", true),

    ("tr", "Hızlı kahverengi tilki bahçede tembel köpeğin üzerinden atlar", false),
    ("tr", "Çocuklar bahçede oynuyor ve kediye gülüyorlar", false),
    ("tr", "Sütlü ve şekerli bir fincan kahve istiyorum lütfen", false),
    ("tr", "Bugün hava çok güzel ve güneş parlak bir şekilde parlıyor", false),
    ("tr", "Bu hafta sonu trenle dağlara gidiyoruz", false),
    ("tr", "Toplantı gelecek perşembe öğleden sonraya ertelendi", false),
    ("tr", "Kitap okumak dünyayı daha iyi anlamana yardımcı olur", false),
    ("tr", "Tren akşam yedide istasyona varıyor", false),
    ("tr", "Herkes birlikte çalışınca her şey daha kolay olur", false),
    ("tr", "İş yerinde bugün çok yoğun bir gün geçirdik", false),
    ("tr", "Sabahları erken kalkmak bana çok iyi geliyor", false),
    ("tr", "Akşam yemeğinden sonra hep birlikte çay içtik", false),
    ("tr", "Herkes yardım edince iş çok daha kolay olur", true),
    ("tr", "Taze ekmek sabahın erken saatlerinde harika kokar", true),
    ("tr", "Yarın kırsaldaki büyükanne ve büyükbabamızı ziyaret ediyoruz", true),

    ("ru", "Быстрая коричневая лиса прыгает через ленивую собаку в саду", false),
    ("ru", "Дети играют в саду и смеются над кошкой", false),
    ("ru", "Я хотел бы чашку кофе с молоком и сахаром", false),
    ("ru", "Погода сегодня прекрасная и солнце ярко светит", false),
    ("ru", "В выходные мы едем на поезде в горы", false),
    ("ru", "Совещание перенесли на следующий четверг после обеда", false),
    ("ru", "Чтение книг помогает лучше понимать мир", false),
    ("ru", "Поезд прибывает на станцию в семь часов вечера", false),
    ("ru", "Много рук делают работу лёгкой когда все помогают", true),
    ("ru", "Свежий хлеб из соседней пекарни пахнет особенно вкусно ранним утром", true),
    ("ru", "Завтра мы навестим наших бабушку и дедушку в деревне", true),

    ("uk", "Швидка коричнева лисиця стрибає через ледачого пса в саду", false),
    ("uk", "Діти граються в саду і сміються з кота", false),
    ("uk", "Я хотів би чашку кави з молоком і цукром", false),
    ("uk", "Погода сьогодні чудова і сонце яскраво світить", false),
    ("uk", "На вихідних ми їдемо потягом у гори", false),
    ("uk", "Засідання перенесли на наступний четвер після обіду", false),
    ("uk", "Читання книжок допомагає краще розуміти світ", false),
    ("uk", "Потяг прибуває на станцію о сьомій годині вечора", false),
    ("uk", "Багато рук роблять роботу легкою коли всі допомагають", true),
    ("uk", "Свіжий хліб чудово пахне рано вранці", true),
    ("uk", "Завтра ми відвідаємо наших бабусю і дідуся в селі", true),

    ("ar", "الثعلب البني السريع يقفز فوق الكلب الكسول في الحديقة", false),
    ("ar", "الأطفال يلعبون في الحديقة ويضحكون مع القطة", false),
    ("ar", "أريد فنجانا من القهوة مع الحليب والسكر من فضلك", false),
    ("ar", "الطقس جميل اليوم والشمس تشرق بقوة", false),
    ("ar", "نسافر بالقطار إلى الجبال في نهاية الأسبوع", false),
    ("ar", "تأجل الاجتماع إلى يوم الخميس القادم بعد الظهر", false),
    ("ar", "قراءة الكتب تساعدك على فهم العالم بشكل أفضل", false),
    ("ar", "يصل القطار إلى المحطة في السابعة مساء", false),
    ("ar", "الأيدي الكثيرة تجعل العمل خفيفا عندما يساعد الجميع", true),
    ("ar", "الخبز الطازج رائحته رائعة في الصباح الباكر", true),
    ("ar", "غدا نزور أجدادنا في الريف", true),

    ("zh", "敏捷的棕色狐狸跳过花园里懒惰的狗", false),
    ("zh", "孩子们在花园里玩耍并对着猫笑", false),
    ("zh", "我想要一杯加牛奶和糖的咖啡", false),
    ("zh", "今天天气很好阳光灿烂", false),
    ("zh", "这个周末我们坐火车去山里", false),
    ("zh", "会议推迟到下周四下午举行", false),
    ("zh", "读书帮助你更好地理解世界", false),
    ("zh", "火车晚上七点到达车站", false),
    ("zh", "我们一家人明天一起去公园散步", false),
    ("zh", "他每天早上七点起床然后去工作", false),
    ("zh", "这本书很有意思我们都喜欢读", false),
    ("zh", "妈妈在厨房里做饭香味很好闻", false),
    ("zh", "大家都很高兴因为明天放假", false),
    ("zh", "我的爷爷奶奶住在乡下的小村子里", false),
    ("zh", "朋友有困难的时候我们都愿意帮忙", false),
    ("zh", "团结就是力量这句话很有道理", false),
    ("zh", "人多力量大大家一起帮忙工作就轻松", true),
    ("zh", "新鲜的面包在清晨闻起来很香", true),
    ("zh", "明天我们去乡下看望爷爷奶奶", true),

    ("ja", "素早い茶色の狐が庭で怠け者の犬を飛び越える", false),
    ("ja", "子供たちは庭で遊んで猫と笑っている", false),
    ("ja", "ミルクと砂糖入りのコーヒーを一杯ください", false),
    ("ja", "今日は天気がよくて太陽が明るく輝いている", false),
    ("ja", "今週末は電車で山へ行きます", false),
    ("ja", "会議は来週の木曜日の午後に延期された", false),
    ("ja", "本を読むことは世界をよりよく理解するのに役立つ", false),
    ("ja", "電車は夜七時に駅に到着します", false),
    ("ja", "私たちは毎朝早く起きて一緒に朝ごはんを食べます", false),
    ("ja", "仕事がたくさんあるのでみんなで手分けして進めます", false),
    ("ja", "このパンは焼きたてでとてもおいしいです", false),
    ("ja", "田舎のおじいさんとおばあさんは元気に暮らしています", false),
    ("ja", "明日の朝は早く起きて山に登るつもりです", false),
    ("ja", "みんなで力を合わせれば仕事は早く終わります", false),
    ("ja", "みんなが手伝えば仕事は楽になる", true),
    ("ja", "焼きたてのパンは朝早くとてもいい匂いがする", true),
    ("ja", "明日は田舎の祖父母を訪ねます", true),

    ("ko", "빠른 갈색 여우가 정원에서 게으른 개를 뛰어넘는다", false),
    ("ko", "아이들이 정원에서 놀며 고양이를 보고 웃는다", false),
    ("ko", "우유와 설탕을 넣은 커피 한 잔 주세요", false),
    ("ko", "오늘은 날씨가 좋고 햇살이 밝게 빛난다", false),
    ("ko", "이번 주말에 우리는 기차를 타고 산에 간다", false),
    ("ko", "회의는 다음 주 목요일 오후로 연기되었다", false),
    ("ko", "책을 읽으면 세상을 더 잘 이해할 수 있다", false),
    ("ko", "기차는 저녁 일곱 시에 역에 도착한다", false),
    ("ko", "모두가 도우면 일이 가벼워진다", true),
    ("ko", "갓 구운 빵은 이른 아침에 아주 좋은 냄새가 난다", true),
    ("ko", "내일 우리는 시골에 계신 조부모님을 찾아뵙는다", true)
  )

  private lazy val model = {
    val train = corpus.filter(!_._3).map(t => (t._1, t._2))
      .toDF("lang", "text")
    LangId.fit(train, "lang", "text")
  }

  test("held-out sentences classify to the right language, every one") {
    val test = corpus.filter(_._3).map(t => (t._1, t._2)).toDF("lang", "text")
    val pred = test.withColumn("pred", LangId.langIdModel(col("text"), model))
    val wrong = pred.filter(col("pred") =!= col("lang")).collect()
    assert(wrong.isEmpty, wrong.map(r =>
      s"${r.getAs[String]("lang")} -> ${r.getAs[String]("pred")}: " +
        r.getAs[String]("text")).mkString("\n"))
  }

  test("the marker heuristic demonstrably misroutes where the model does not") {
    // Dutch: ' is ' is an ENGLISH marker and nl has no marker set at
    // all, so the heuristic routes Dutch text to en/und — the exact
    // poisoning r9 flagged for downstream per-language operators
    val nl = corpus.filter(_._1 == "nl").map(t => (t._1, t._2))
      .toDF("lang", "text")
    val both = nl
      .withColumn("marker", TextFunctions.langId(col("text")))
      .withColumn("model", LangId.langIdModel(col("text"), model))
      .collect()
    val markerWrong = both.count(_.getAs[String]("marker") != "nl")
    val modelRight = both.count(_.getAs[String]("model") == "nl")
    assert(markerWrong == both.length,
      "fixture no longer demonstrates the heuristic's gap")
    assert(modelRight == both.length)
  }

  test("blank and null text → und / null; determinism across calls") {
    val df = Seq((1L, ""), (2L, "   "), (3L, null.asInstanceOf[String]),
      (4L, "the cat sat on the mat")).toDF("id", "text")
    val out = df.withColumn("pred", LangId.langIdModel(col("text"), model))
      .orderBy("id").collect().map(r => Option(r.getAs[String]("pred")))
    assert(out.toSeq == Seq(Some("und"), Some("und"), None, Some("en")))
    // same fit twice → identical model (deterministic hashing + sort)
    val train = corpus.filter(!_._3).map(t => (t._1, t._2)).toDF("lang", "text")
    val m2 = LangId.fit(train, "lang", "text")
    assert(m2.langs.toSeq == model.langs.toSeq)
    assert(m2.logProb.map(_.toSeq).toSeq == model.logProb.map(_.toSeq).toSeq)
  }

  test("fit refuses an unbounded label column (model must stay broadcastable)") {
    val junk = spark.range(300)
      .selectExpr("cast(id as string) as lang", "'text body' as text")
    val e = intercept[IllegalArgumentException] {
      LangId.fit(junk, "lang", "text")
    }
    assert(e.getMessage.contains("maxLangs"))
  }

  test("save/load roundtrip; lang_id_train + lang_id pipeline nodes wire the classifier") {
    val dir = graft.TestDirs.create("graft_langid")
    val modelPath = dir.resolve("model").toString
    // roundtrip preserves the model exactly
    LangId.save(spark, model, modelPath)
    val loaded = LangId.load(spark, modelPath)
    assert(loaded.langs.toSeq == model.langs.toSeq &&
      loaded.buckets == model.buckets && loaded.nMin == model.nMin &&
      loaded.nMax == model.nMax)
    assert(loaded.logProb.map(_.toSeq).toSeq == model.logProb.map(_.toSeq).toSeq)

    // train via the pipeline surface, then classify via the pipeline
    // surface — the full build-once/apply-forever artifact loop
    val trainCsv = dir.resolve("train").toString
    graft.sources.Writers.write(
      corpus.filter(!_._3).map(t => (t._1, t._2)).toDF("lang", "text"),
      trainCsv, "parquet")
    val m2Path = dir.resolve("model2").toString
    val trainRun = graft.plans.PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "in", "type": "file_input",
         "data": {"config": {"path": "$trainCsv", "format": "parquet"}}},
        {"id": "tr", "type": "lang_id_train",
         "data": {"config": {"label_column": "lang", "column": "text",
           "model_path": "$m2Path"}}}
      ],
      "edges": [{"source": "in", "target": "tr"}]
    }""")
    assert(trainRun.nodeLog.exists { case (id, msg) =>
      id == "tr" && msg.contains("16-language model") }, trainRun.nodeLog.toString)

    val testPq = dir.resolve("test").toString
    graft.sources.Writers.write(
      corpus.filter(_._3).map(t => (t._1, t._2)).toDF("lang", "text"),
      testPq, "parquet")
    val out = graft.plans.PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "in", "type": "file_input",
         "data": {"config": {"path": "$testPq", "format": "parquet"}}},
        {"id": "cls", "type": "lang_id",
         "data": {"config": {"column": "text", "model_path": "$m2Path"}}}
      ],
      "edges": [{"source": "in", "target": "cls"}]
    }""").outputs("cls")
    val wrong = out.filter(col("lang_pred") =!= col("lang")).count()
    assert(wrong == 0)

    // the node surface exposes the und gate: digit soup routes to und
    // at the same margin the direct-API spec pins
    val noisePq = dir.resolve("noise").toString
    graft.sources.Writers.write(
      Seq((1L, "12345 67890 24680 13579")).toDF("id", "text"), noisePq, "parquet")
    val gated = graft.plans.PipelineJson.run(spark, s"""{
      "nodes": [
        {"id": "in", "type": "file_input",
         "data": {"config": {"path": "$noisePq", "format": "parquet"}}},
        {"id": "cls", "type": "lang_id",
         "data": {"config": {"column": "text", "model_path": "$m2Path",
           "und_margin": 0.03}}}
      ],
      "edges": [{"source": "in", "target": "cls"}]
    }""").outputs("cls")
    assert(gated.select("lang_pred").collect().map(_.getString(0)).toSeq ==
      Seq("und"))
  }

  test("classification is one in-row expression: no shuffle, no udf in the plan") {
    val docs = corpus.map(t => (t._1, t._2)).toDF("lang", "text")
    val plan = docs.withColumn("pred", LangId.langIdModel(col("text"), model))
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("exchange") && !plan.contains("scalaudf"), plan)
  }

  test("confusion matrix across 16 languages / 4 scripts: held-out diagonal is clean") {
    val langs = corpus.map(_._1).distinct.sorted
    assert(langs.size == 16, langs.mkString(","))
    val test = corpus.filter(_._3).map(t => (t._1, t._2)).toDF("lang", "text")
    val cm = test
      .withColumn("pred", LangId.langIdModel(col("text"), model))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("pred")) ->
        r.getAs[Long]("n")).toMap
    val offDiagonal = cm.filter { case ((l, p), _) => l != p }
    assert(offDiagonal.isEmpty,
      "misrouted held-out cells: " + offDiagonal.keys.map {
        case (l, p) => s"$l->$p" }.mkString(", "))
    // every language contributes its full held-out count to the diagonal
    langs.foreach { l =>
      assert(cm.getOrElse((l, l), 0L) == 3L, s"$l diagonal: ${cm.get((l, l))}")
    }
  }

  test("und margin: low-evidence text routes to und, real sentences are untouched") {
    val margin = 0.03
    // digit/symbol soup carries no language evidence — pure argmax
    // force-routes it to SOME trained language; the margin gate must
    // send it to und instead
    val noise = Seq((1L, "12345 67890 24680 13579"), (2L, "+++ --- ### ***"),
      (3L, "?? !! ,, .. ;;")).toDF("id", "text")
    val forced = noise.withColumn("p",
        LangId.langIdModel(col("text"), model)) // margin off: force-routed
      .filter(col("p") =!= "und").count()
    assert(forced == 3L, "fixture noise no longer demonstrates force-routing")
    val gated = noise.withColumn("p",
        LangId.langIdModel(col("text"), model, undMargin = margin))
      .filter(col("p") === "und").count()
    assert(gated == 3L)
    // the SAME margin leaves every real held-out sentence classified —
    // the gate separates evidence-free text from actual language
    val test = corpus.filter(_._3).map(t => (t._1, t._2)).toDF("lang", "text")
    val wrong = test.withColumn("pred",
        LangId.langIdModel(col("text"), model, undMargin = margin))
      .filter(col("pred") =!= col("lang")).collect()
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("fit gram stream is codegen'd: no typed-lambda deserialization in the plan") {
    val train = corpus.filter(!_._3).map(t => (t._1, t._2)).toDF("lang", "text")
    val plan = LangId.gramCounts(train, "lang", "text", 4096, 1, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapElements")
      && !plan.toLowerCase.contains("scalaudf"), plan)
    assert(plan.contains("graft_lang_grams"), plan)
  }

  test("fit ≡ independent driver-side Naive Bayes recomputation (bit-identical)") {
    // recompute the NB closed form in plain Scala from featureBuckets —
    // the distributed explode+groupBy fit must match it exactly
    val train = corpus.filter(!_._3).map(t => (t._1, t._2))
    val langs = train.map(_._1).distinct.sorted.toArray
    val buckets = model.buckets
    val raw = langs.map { l =>
      val counts = new Array[Long](buckets)
      train.filter(_._1 == l).foreach { case (_, text) =>
        LangId.featureBuckets(text, model.nMin, model.nMax, buckets)
          .foreach(bk => counts(bk) += 1)
      }
      counts
    }
    val expected = langs.indices.map { l =>
      val denom = math.log(raw(l).sum + buckets.toDouble)
      raw(l).map(c => (math.log(c + 1.0) - denom).toFloat).toSeq
    }
    assert(model.langs.toSeq == langs.toSeq)
    assert(model.logProb.map(_.toSeq).toSeq == expected)
    val totalDocs = train.size.toDouble
    val expectedPrior = langs.map(l =>
      math.log(train.count(_._1 == l) / totalDocs))
    assert(model.logPrior.toSeq == expectedPrior.toSeq)
  }

  test("decimal model: same argmax as the float model; exact-arithmetic classify") {
    val train = corpus.filter(!_._3).map(t => (t._1, t._2)).toDF("lang", "text")
    val dm = LangId.fitDecimal(train, "lang", "text")
    val fm = LangId.fit(train, "lang", "text")
    assert(dm.langs.toSeq == fm.langs.toSeq)
    // every held-out sentence gets the same decision from the decimal
    // and float scorings (margins are far above the 1e-10 quantum)
    val test = corpus.filter(_._3).map(t => (t._1, t._2)).toDF("lang", "text")
    val both = test.select(col("lang"),
        LangId.langIdDecimal(col("text"), dm).as("d"),
        LangId.langIdModel(col("text"), fm).as("f"))
      .collect()
    both.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"decimal ${r.getString(1)} != float ${r.getString(2)} for lang ${r.getString(0)}")
      assert(r.getString(1) == r.getString(0))
    }
    // blank → und; determinism across two evaluations
    val blank = Seq(("", ""), ("  ", " \t")).toDF("a", "text")
    assert(blank.select(LangId.langIdDecimal(col("text"), dm)).collect()
      .forall(_.getString(0) == "und"))
    // all quantized log-probs and priors are negative (probabilities
    // strictly below 1) — a sign slip in the unscaled-long plumbing
    // would flip the argmax silently
    dm.langs.indices.foreach { l =>
      assert(dm.lpUnscaled(l).max < 0L, "log-probs must be negative")
      assert(dm.priorUnscaled(l) < 0L)
    }
  }
}
